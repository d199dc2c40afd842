"""Golden tests: the parallel engine must reproduce the serial oracle
exactly — crawl order, final seen-set membership, and per-row payloads
(caption equality + decoded-pixel PSNR>=40dB on the lossy path), per
BASELINE.json north_rule / input_hint."""

import numpy as np
import pandas as pd
import pytest

from crawlers_spark.functions.images import decode_image, psnr
from crawlers_spark.operators.scheduler import SchedulerConfig
from crawlers_spark.operators.seen_set import BloomParams
from crawlers_spark.plans.crawl import CrawlConfig, CrawlPlan
from crawlers_spark.sources.synthweb import SynthWebConfig, make_seed_urls
from oracle.serial_crawler import crawl_serial

WEB = SynthWebConfig(n_hosts=12, base_pages=60)
N_SEEDS = 40
MAX_GENS = 6


@pytest.fixture(scope="module")
def oracle_result():
    return crawl_serial(WEB, make_seed_urls(WEB, N_SEEDS), max_generations=MAX_GENS)


@pytest.fixture(scope="module")
def engine_result(spark):
    cfg = CrawlConfig(
        web=WEB,
        bloom=BloomParams.size_for(20_000, n_buckets=16),
        max_generations=MAX_GENS,
    )
    seeds = spark.createDataFrame(make_seed_urls(WEB, N_SEEDS))
    return CrawlPlan(spark, cfg).run(seeds)


def test_crawl_order_exact(engine_result, oracle_result):
    eng = (
        engine_result.crawl_log.toPandas()
        .sort_values(["generation", "priority"])
        .reset_index(drop=True)
    )
    ora = oracle_result.crawl_log.sort_values("order_rank").reset_index(drop=True)
    assert len(eng) == len(ora), (len(eng), len(ora))
    assert eng["url_canon"].tolist() == ora["url_canon"].tolist()
    assert eng["generation"].tolist() == ora["generation"].tolist()
    assert eng["ok"].tolist() == ora["ok"].tolist()


def test_seen_set_exact(engine_result, oracle_result):
    eng_seen = set(engine_result.seen_exact.toPandas()["url_hash"].astype(np.int64))
    assert eng_seen == {int(h) for h in oracle_result.seen_hashes}


def test_payload_invariants(engine_result, oracle_result):
    eng = engine_result.pages.toPandas().set_index("image_id")
    ora = oracle_result.pages.set_index("image_id")
    assert set(eng.index) == set(ora.index)
    assert len(eng) == len(set(eng.index))  # image_id unique
    checked_lossy = 0
    for image_id, orow in ora.iterrows():
        erow = eng.loc[image_id]
        assert erow["caption"] == orow["caption"]
        assert int(erow["phash"]) == int(orow["phash"])
        epx = decode_image(bytes(erow["bytes"]), erow["fmt"])
        ppx = decode_image(bytes(orow["bytes_pristine"]), orow["fmt"])
        if orow["fmt"] == "ppm":  # lossy mirror path
            assert psnr(ppx, epx) >= 40.0
            checked_lossy += 1
        else:
            assert (epx == ppx).all()
    assert checked_lossy > 0


def test_metrics_totals(engine_result, oracle_result):
    m = engine_result.metrics.toPandas().groupby("generation").sum()
    o = oracle_result.metrics.set_index("generation")
    for g in o.index:
        assert m.loc[g, "scheduled"] == o.loc[g, "scheduled"]
        assert m.loc[g, "fetched"] == o.loc[g, "fetched"]
        assert m.loc[g, "failed"] == o.loc[g, "failed"]
        assert m.loc[g, "deduped"] == o.loc[g, "deduped"]


def test_politeness_offsets(engine_result):
    log = engine_result.crawl_log.toPandas()
    # within a (generation, host), offsets step by the host's crawl delay
    grp = log.groupby(["generation", "host"])["fetch_offset_ms"].agg(["min", "count", "max"])
    assert (grp["min"] == 0).all()
    multi = grp[grp["count"] > 1]
    assert (multi["max"] > 0).all()


def test_resume_equals_uninterrupted(spark, tmp_path, engine_result):
    cfg = CrawlConfig(
        web=WEB,
        bloom=BloomParams.size_for(20_000, n_buckets=16),
        max_generations=2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    seeds = spark.createDataFrame(make_seed_urls(WEB, N_SEEDS))
    CrawlPlan(spark, cfg).run(seeds)  # killed after generation 1

    cfg2 = CrawlConfig(
        web=WEB,
        bloom=BloomParams.size_for(20_000, n_buckets=16),
        max_generations=MAX_GENS - 2,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    resumed = CrawlPlan(spark, cfg2).run(seeds, resume=True)

    full = (
        engine_result.crawl_log.toPandas()
        .sort_values(["generation", "priority"])
        .reset_index(drop=True)
    )
    part = resumed.crawl_log.toPandas().sort_values(["generation", "priority"])
    tail = full[full["generation"] >= 2].reset_index(drop=True)
    assert part["url_canon"].tolist() == tail["url_canon"].tolist()
    # final seen set identical to the uninterrupted run's
    full_seen = set(engine_result.seen_exact.toPandas()["url_hash"])
    res_seen = set(resumed.seen_exact.toPandas()["url_hash"])
    assert res_seen == full_seen


@pytest.mark.parametrize("quota", [None, 9])
def test_checkpoint_layout(spark, tmp_path, quota):
    """A checkpointed generation holds exactly what resume (and the
    benchmark's resume probe) reads: pages, crawl_log, frontier_sched,
    seen_exact, plus host_spent when a lifetime quota is set. The tagged
    state table carries exactly the fused step's state columns."""
    import os

    from crawlers_spark.operators.fused_schedule import STATE_COLS

    web = SynthWebConfig(n_hosts=4, base_pages=20)
    ckpt = tmp_path / "ckpt"
    cfg = CrawlConfig(
        web=web, bloom=BloomParams.size_for(1_000, n_buckets=4), n_host_buckets=4,
        max_generations=2, checkpoint_dir=str(ckpt), total_budget_per_host=quota,
    )
    res = CrawlPlan(spark, cfg).run(spark.createDataFrame(make_seed_urls(web, 10)))
    assert res.generations == 2
    want = {"pages", "crawl_log", "frontier_sched", "seen_exact"}
    if quota is not None:
        want.add("host_spent")
    assert sorted(os.listdir(ckpt)) == [
        "gen=00000", "gen=00001", "manifest_gen=00000.json", "manifest_gen=00001.json",
    ]
    for g in ("gen=00000", "gen=00001"):
        assert set(os.listdir(ckpt / g)) == want, g
        assert spark.read.parquet(str(ckpt / g / "seen_exact")).columns == STATE_COLS, g


def test_retry_requeue_matches_oracle(spark):
    """Bounded requeue of transient failures: engine (fused loop) must
    reproduce the serial oracle exactly — retried rows re-enter later
    generations with their original priority, bounded by max_retries."""
    web = SynthWebConfig(n_hosts=8, base_pages=40, transient_fail_mod=3)
    seeds_pdf = make_seed_urls(web, 30)
    ora = crawl_serial(web, seeds_pdf, max_generations=5, max_retries=2)
    cfg = CrawlConfig(
        web=web,
        bloom=BloomParams.size_for(20_000, n_buckets=16),
        max_generations=5,
        max_retries=2,
    )
    res = CrawlPlan(spark, cfg).run(spark.createDataFrame(seeds_pdf))

    eng = (
        res.crawl_log.toPandas()
        .sort_values(["generation", "priority"])
        .reset_index(drop=True)
    )
    orl = ora.crawl_log.sort_values("order_rank").reset_index(drop=True)
    assert len(eng) == len(orl), (len(eng), len(orl))
    assert eng["url_canon"].tolist() == orl["url_canon"].tolist()
    assert eng["generation"].tolist() == orl["generation"].tolist()
    assert eng["ok"].tolist() == orl["ok"].tolist()
    # transient failures actually happened AND some were retried to success
    failed = orl[~orl["ok"]]
    assert len(failed) > 0
    retried_ok = orl.merge(
        failed[["url_canon"]].drop_duplicates(), on="url_canon"
    ).query("ok")
    assert len(retried_ok) > 0, "no retry ever succeeded; weak fixture"
    # seen set identical
    eng_seen = set(res.seen_exact.toPandas()["url_hash"].astype(np.int64))
    assert eng_seen == {int(h) for h in ora.seen_hashes}
    # pages: one row per eventually-ok URL, equal sets
    eng_pages = res.pages.toPandas()
    assert set(eng_pages["image_id"]) == set(ora.pages["image_id"])
    assert len(eng_pages) == len(set(eng_pages["image_id"]))


def test_lifetime_host_quota_matches_oracle(spark):
    """Cumulative per-host quota (key-retirement semantics): once a host
    has consumed total_budget_per_host fetches across generations, it
    schedules nothing more — engine must match the serial oracle."""
    web = SynthWebConfig(n_hosts=6, base_pages=80)
    seeds_pdf = make_seed_urls(web, 40)
    ora = crawl_serial(web, seeds_pdf, max_generations=5, total_budget_per_host=9)
    cfg = CrawlConfig(
        web=web,
        bloom=BloomParams.size_for(20_000, n_buckets=16),
        max_generations=5,
        total_budget_per_host=9,
    )
    res = CrawlPlan(spark, cfg).run(spark.createDataFrame(seeds_pdf))

    eng = (
        res.crawl_log.toPandas()
        .sort_values(["generation", "priority"])
        .reset_index(drop=True)
    )
    orl = ora.crawl_log.sort_values("order_rank").reset_index(drop=True)
    assert len(eng) == len(orl), (len(eng), len(orl))
    assert eng["url_canon"].tolist() == orl["url_canon"].tolist()
    assert eng["generation"].tolist() == orl["generation"].tolist()
    # the quota actually bound: no host exceeds it, some host hits it
    per_host = eng.groupby("host").size()
    assert (per_host <= 9).all()
    assert (per_host == 9).any(), "quota never binding; weak fixture"


def test_fused_inmemory_storage_flat(spark):
    """Non-checkpoint mode must not pin one fetch cache per
    generation: after N generations the persisted-RDD count stays
    bounded by the per-generation working set (fetched is unpersisted
    and pages/log parts are eager localCheckpoints of output columns
    only), so executor storage is flat in N."""
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    cfg = CrawlConfig(
        web=WEB,
        bloom=BloomParams.size_for(20_000, n_buckets=16),
        max_generations=MAX_GENS,
    )
    res = CrawlPlan(spark, cfg).run(spark.createDataFrame(make_seed_urls(WEB, N_SEEDS)))
    assert res.generations >= 4
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    # retained: the localCheckpointed pages/log parts (2/gen, output data
    # only) + loop-carried frontier state; NOT the per-gen fetch caches
    # (each holds links arrays + full working columns). Allow the
    # checkpointed parts but assert no superlinear/persist leak beyond
    # them: < 4 entries per generation with a small constant.
    assert after - before <= 4 * res.generations + 6, (before, after)


def test_run_restores_caller_session_conf(spark, monkeypatch):
    """run() scopes the shuffle width and AQE to the loop; the caller gets
    its own values back after a normal return and after a raise from
    inside the loop."""
    import crawlers_spark.plans.crawl as crawl_mod

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    web = SynthWebConfig(n_hosts=6, base_pages=20)
    cfg = CrawlConfig(web=web, n_host_buckets=5, max_generations=3)
    seeds = spark.createDataFrame(make_seed_urls(web, 10))
    try:
        spark.conf.set(keys[0], "11")
        spark.conf.set(keys[1], "true")
        caller = {k: spark.conf.get(k) for k in keys}
        assert CrawlPlan(spark, cfg).run(seeds).generations > 1
        assert {k: spark.conf.get(k) for k in keys} == caller

        real_fetch, in_loop = crawl_mod.fetch_scheduled, []

        def fail_second_generation(sched, web_cfg):
            in_loop.append({k: spark.conf.get(k) for k in keys})
            if len(in_loop) == 2:
                raise RuntimeError("fetch failed")
            return real_fetch(sched, web_cfg)

        monkeypatch.setattr(crawl_mod, "fetch_scheduled", fail_second_generation)
        with pytest.raises(RuntimeError, match="fetch failed"):
            CrawlPlan(spark, cfg).run(seeds)
        assert in_loop[-1] == {keys[0]: "5", keys[1]: "false"}
        assert {k: spark.conf.get(k) for k in keys} == caller
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_auto_salts_decision():
    from crawlers_spark.plans.crawl import auto_salts

    # below min_total: never triggers
    assert auto_salts({0: 40_000}, 32) == 1
    # uniform: stays at base
    even = {b: 4_000 for b in range(32)}
    assert auto_salts(even, 32) == 1
    # one bucket holds ~90%: salts ~ (max/mean)/2, capped
    skew = {b: 500 for b in range(32)}
    skew[7] = 200_000
    s = auto_salts(skew, 32)
    assert 4 <= s <= 16, s
    # base > 1 is a floor
    assert auto_salts(even, 32, base=4) == 4


def test_spark_submit_pyfiles_launch(tmp_path):
    """north_rule launch shape: the engine runs under real
    ``spark-submit --py-files crawlers_spark.zip`` from a directory that
    does NOT contain the package — every import must come from the
    shipped archive. Asserts the crawl completes and writes output."""
    import json as _json
    import os
    import shutil
    import subprocess

    from crawlers_spark.session import build_pyfiles_zip

    zip_path = build_pyfiles_zip()
    assert zip_path is not None
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(repo, "run_crawl.py"), tmp_path / "run_crawl.py")
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    out_dir = tmp_path / "out"
    proc = subprocess.run(
        [
            spark_submit, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            str(tmp_path / "run_crawl.py"),
            "--seeds", "20", "--hosts", "6", "--pages", "40",
            "--generations", "2", "--host-buckets", "8",
            "--out", str(out_dir),
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    stats = _json.loads(line)
    assert stats["generations"] == 2 and stats["fetched"] > 0
    assert os.path.exists(out_dir / "pages")
