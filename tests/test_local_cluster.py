"""Multi-executor (local-cluster) deployment checks.

``local-cluster[E,C,mem]`` is Spark's multi-executor test master: E
SEPARATE executor JVMs with their own task threads, Python UDF workers,
and block managers, shuffling over real sockets — the deployment shape
the north rule's "N vs 4N executors" criterion refers to. These tests
prove (a) the crawl engine runs there under a real ``spark-submit``
launch (the package ships to executors via addPyFile, as a
``--py-files`` launch would), and (b) the crawl log it produces is
IDENTICAL, row for row, to single-JVM local mode and to the serial
oracle — deployment-mode determinism, the cluster-side twin of the
shuffle-partition determinism sweep.

Both sides run as ``spark-submit run_crawl.py`` subprocesses: a
SparkSession's master is fixed at JVM creation, so a second master
inside the pytest process would silently reuse the suite's local
session.
"""

from __future__ import annotations

import json
import os
import subprocess

import pandas as pd
import pytest

from crawlers_spark.sources.synthweb import SynthWebConfig, make_seed_urls
from oracle.serial_crawler import crawl_serial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CLUSTER = "local-cluster[2,4,2048]"
SEEDS, HOSTS, PAGES, GENERATIONS, HOST_BUCKETS = 100, 32, 400, 4, 8
LOG_COLS = ["generation", "priority", "url_canon", "ok"]


def _spark_submit(master: str, out: str) -> tuple[dict, pd.DataFrame]:
    """Run run_crawl.py on ``master``; return its summary line and its
    crawl log in crawl order."""
    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    if not os.path.exists(submit):
        pytest.skip("spark-submit not shipped with this pyspark")
    proc = subprocess.run(
        [submit, "--master", master, "--conf", "spark.ui.enabled=false",
         os.path.join(REPO, "run_crawl.py"),
         "--seeds", str(SEEDS), "--hosts", str(HOSTS), "--pages", str(PAGES),
         "--generations", str(GENERATIONS), "--host-buckets", str(HOST_BUCKETS),
         "--out", out],
        capture_output=True, text=True, timeout=560, cwd=REPO,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    log = (
        pd.read_parquet(os.path.join(out, "crawl_log"), columns=LOG_COLS)
        .sort_values(["generation", "priority"])
        .reset_index(drop=True)
    )
    return json.loads(line), log


@pytest.fixture(scope="module")
def cluster_run(tmp_path_factory):
    return _spark_submit(CLUSTER, str(tmp_path_factory.mktemp("cluster")))


def test_fused_schedule_identical_on_local_cluster(cluster_run, tmp_path):
    _, cluster = cluster_run
    _, local = _spark_submit("local[8]", str(tmp_path))
    web = SynthWebConfig(n_hosts=HOSTS, base_pages=PAGES)
    oracle = crawl_serial(
        web, make_seed_urls(web, SEEDS), n_host_buckets=HOST_BUCKETS,
        max_generations=GENERATIONS,
    ).crawl_log.sort_values("order_rank").reset_index(drop=True)[LOG_COLS]
    assert len(local) > 0 and local["generation"].max() == GENERATIONS - 1
    # bit-identical crawl order across single-JVM threads and a real
    # multi-executor cluster with socket shuffle, and equal to the
    # serial reference crawl
    pd.testing.assert_frame_equal(cluster, local, check_dtype=False)
    pd.testing.assert_frame_equal(local, oracle, check_dtype=False)


def test_spark_submit_launch_on_local_cluster(cluster_run):
    """The north rule's launch shape, literally: spark-submit --master
    local-cluster[2,4,2048] run_crawl.py — the session factory keeps
    the launcher-provided master instead of overriding it, and the crawl
    engine completes generations on real executors."""
    out, log = cluster_run
    assert out["generations"] == GENERATIONS and out["fetched"] > 0
    assert out["scheduled"] == len(log)
