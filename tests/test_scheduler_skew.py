"""Skew behavior of the politeness scheduler: a mega-host frontier.

The reference's world is perfectly skewed (one site per crawler file);
the fused frontier step's salted two-phase top-k (n_salts > 1) must
produce exactly the same schedule as a naive single window, with
offsets stepping by the host's crawl delay.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from crawlers_spark.operators.fused_schedule import fused_filter_schedule
from crawlers_spark.operators.scheduler import SchedulerConfig

N_SALTS = 8


@pytest.fixture(scope="module")
def skewed(spark):
    n = 50_000
    rng = np.random.RandomState(7)
    # 90% of URLs on one mega-host, the rest across 50 small hosts
    hosts = np.where(rng.rand(n) < 0.9, "mega.test",
                     pd.Series(rng.randint(0, 50, n)).map(lambda i: f"s{i}.test"))
    pdf = pd.DataFrame(
        {
            "url_canon": [f"http://{h}/p/{i}" for i, h in enumerate(hosts)],
            "url_hash": rng.randint(-(2**62), 2**62, n),
            "host": hosts,
            # one host bucket: every host, the mega-host included, shares it
            "host_bucket": np.zeros(n, np.int32),
            "priority": np.arange(n, dtype=np.int64),
        }
    )
    frontier = spark.createDataFrame(pdf)
    robots = pd.DataFrame(
        {
            "host": ["mega.test"],
            "crawl_delay_ms": [500],
            "max_per_generation": [40],
            "disallow_prefixes": [[]],
        }
    )
    out = fused_filter_schedule(
        spark, frontier, None, robots, SchedulerConfig(), n_host_buckets=1,
        n_salts=N_SALTS,
    ).persist()
    yield frontier, robots, out
    out.unpersist()


def test_salted_matches_naive_schedule(spark, skewed):
    frontier, robots, out = skewed
    cfg = SchedulerConfig()
    got = {
        (r["url_hash"], r["host_rank"])
        for r in out.filter("status = 'scheduled'").select("url_hash", "host_rank").collect()
    }
    # naive single-window reference
    w = Window.partitionBy("host").orderBy("priority", "url_hash")
    joined = frontier.join(
        F.broadcast(spark.createDataFrame(robots)), "host", "left"
    ).withColumn(
        "max_per_generation", F.coalesce("max_per_generation", F.lit(cfg.default_budget))
    )
    naive = (
        joined.withColumn("host_rank", F.row_number().over(w))
        .filter(F.col("host_rank") <= F.col("max_per_generation"))
    )
    want = {
        (r["url_hash"], r["host_rank"])
        for r in naive.select("url_hash", "host_rank").collect()
    }
    assert got == want
    # nothing lost: every frontier row comes back scheduled or deferred
    assert out.count() == frontier.count()
    assert {r["status"] for r in out.select("status").distinct().collect()} == {
        "scheduled", "deferred",
    }


def test_offsets_follow_crawl_delay(spark, skewed):
    _frontier, _robots, out = skewed
    mega = (
        out.filter((F.col("status") == "scheduled") & (F.col("host") == "mega.test"))
        .orderBy("host_rank")
        .select("host_rank", "fetch_offset_ms")
        .collect()
    )
    assert len(mega) == 40
    assert all(r["fetch_offset_ms"] == (r["host_rank"] - 1) * 500 for r in mega)
