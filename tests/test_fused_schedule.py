"""Fused bucket-local frontier step ≡ independent oracles.

The fused cogroup.applyInArrow step (operators/fused_schedule.py) must
produce exactly the same scheduled set, ranks, and offsets as a plain
Catalyst chain (groupBy dedup → left_anti seen-filter → per-host
row_number window), and row-for-row the same output as the pandas
rendering of its kernel (tests/fused_oracles.py), on the same
candidates + seen-set + robots."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlers_spark.functions.hashing import fnv64, pmod_bucket
from crawlers_spark.operators.fused_schedule import (
    build_host_bucket_blobs,
    fused_filter_schedule,
    quota_state,
    robots_state,
    seen_state,
)
from crawlers_spark.operators.scheduler import SchedulerConfig
from crawlers_spark.operators.seen_set import BloomParams
from crawlers_spark.plans.crawl import canonize, prepare_frontier
from crawlers_spark.sources.synthweb import SynthWebConfig, make_seed_urls, robots_pdf
from fused_oracles import catalyst_schedule, pandas_fused_schedule

N_BUCKETS = 16


@pytest.fixture(scope="module")
def setup(spark):
    web = SynthWebConfig(n_hosts=24, base_pages=300)
    params = BloomParams.size_for(20_000, n_buckets=N_BUCKETS)
    seeds = spark.createDataFrame(make_seed_urls(web, 900))
    preseen_urls = spark.createDataFrame(
        make_seed_urls(web, 400).assign(seed_rank=lambda d: d.seed_rank + 3000)
    )
    preseen = prepare_frontier(preseen_urls, N_BUCKETS).persist()
    # raw (un-deduped) candidate spellings: the step does its own dedup
    raw = (
        canonize(seeds, N_BUCKETS)
        .withColumn("priority", F.col("seed_rank").cast("long"))
        .persist()
    )
    robots = robots_pdf(web)
    return spark, web, params, preseen, raw, robots


def _fused(spark, params, preseen, raw, robots, n_salts=1):
    blobs = build_host_bucket_blobs(preseen, params)
    exact = preseen.select("url_hash", "host_bucket")
    return fused_filter_schedule(
        spark, raw, exact, robots, blobs=blobs, params=params,
        n_host_buckets=N_BUCKETS, n_salts=n_salts,
    )


def test_fused_matches_composed(setup):
    """The fused step ≡ the composed Catalyst chain of tests/fused_oracles.py."""
    spark, web, params, preseen, raw, robots = setup
    want = {tuple(r) for r in catalyst_schedule(spark, raw, preseen, robots).collect()}
    got = {
        (r["url_hash"], r["status"], r["host_rank"], r["fetch_offset_ms"])
        for r in _fused(spark, params, preseen, raw, robots).collect()
    }
    # unsalted, deferred rows carry their over-budget host rank in both
    assert got == want
    statuses = {t[1] for t in got}
    assert statuses == {"scheduled", "deferred", "disallowed"}, statuses


def test_fused_empty_candidates(setup):
    spark, web, params, preseen, _raw, robots = setup
    empty = spark.createDataFrame(
        [], "url_hash long, url_canon string, host string, host_bucket int, priority long"
    )
    out = _fused(spark, params, preseen, empty, robots)
    assert out.count() == 0


def test_salted_matches_unsalted(setup):
    """n_salts > 1 (the mega-host skew escape hatch) must leave the
    scheduled set, ranks, and offsets bit-identical — the salted path is
    a two-phase EXACT top-k, not an approximation."""
    spark, web, params, preseen, raw, robots = setup
    base = _fused(spark, params, preseen, raw, robots).persist()
    salted = _fused(spark, params, preseen, raw, robots, n_salts=4).persist()

    def sched(df):
        return {
            (r["url_hash"], r["host_rank"], r["fetch_offset_ms"])
            for r in df.filter("status = 'scheduled'").collect()
        }

    assert sched(base) == sched(salted)
    for status in ("deferred", "disallowed"):
        a = {r["url_hash"] for r in base.filter(f"status = '{status}'").collect()}
        b = {r["url_hash"] for r in salted.filter(f"status = '{status}'").collect()}
        assert a == b, status
    base.unpersist(); salted.unpersist()


def test_salting_bounds_mega_host_partition(spark):
    """One host holding 90% of candidates concentrates in ONE cogroup
    partition unsalted (the straggler that sets generation wall time at
    100x); with n_salts the max per-(bucket, salt) group — the actual
    task input of the phase-1 cogroup — drops by ~n_salts, while the
    scheduled output stays identical to the unsalted run."""
    import pandas as pd

    from crawlers_spark.functions.hashing import fnv64, pmod_bucket
    from crawlers_spark.functions.urls import url_host

    n_mega, n_small, n_salts = 18_000, 2_000, 8
    web = SynthWebConfig(n_hosts=24, base_pages=50)
    mega = pd.DataFrame({
        "url": "http://host0000.test/p/" + pd.RangeIndex(n_mega).astype(str),
        "seed_rank": range(n_mega),
    })
    rest_host = (pd.RangeIndex(n_small) % 20 + 1).astype(str).str.zfill(4)
    rest = pd.DataFrame({
        "url": "http://host" + rest_host + ".test/p/" + pd.RangeIndex(n_small).astype(str),
        "seed_rank": range(n_mega, n_mega + n_small),
    })
    pdf = pd.concat([mega, rest], ignore_index=True)
    canon = pdf["url"]
    cand_pd = pd.DataFrame({
        "url_canon": canon,
        "url_hash": fnv64(canon),
        "host_bucket": pmod_bucket(fnv64(url_host(canon)), N_BUCKETS),
        "priority": pdf["seed_rank"].astype("int64"),
    })
    cand = spark.createDataFrame(cand_pd)
    robots = robots_pdf(web)

    # task-input math: unsalted, the mega host's bucket holds >= 85% of
    # all rows; salted, the largest (bucket, salt) slice is ~1/n_salts
    bucket_sizes = cand_pd.groupby("host_bucket").size()
    assert bucket_sizes.max() >= 0.85 * len(cand_pd)
    salt = (cand_pd["url_hash"].to_numpy().view("uint64") % n_salts).astype(int)
    slice_sizes = cand_pd.assign(salt=salt).groupby(["host_bucket", "salt"]).size()
    assert slice_sizes.max() <= bucket_sizes.max() / n_salts * 1.5

    out_1 = fused_filter_schedule(
        spark, cand, None, robots, SchedulerConfig(), n_host_buckets=N_BUCKETS,
    ).persist()
    out_s = fused_filter_schedule(
        spark, cand, None, robots, SchedulerConfig(), n_host_buckets=N_BUCKETS,
        n_salts=n_salts,
    ).persist()
    sched_1 = {
        (r["url_hash"], r["host_rank"], r["fetch_offset_ms"])
        for r in out_1.filter("status = 'scheduled'").collect()
    }
    sched_s = {
        (r["url_hash"], r["host_rank"], r["fetch_offset_ms"])
        for r in out_s.filter("status = 'scheduled'").collect()
    }
    assert sched_1 == sched_s and len(sched_1) > 0
    # the mega host schedules exactly its per-generation budget
    rb = robots.set_index("host")
    mega_budget = int(rb.loc["host0000.test", "max_per_generation"])
    n_mega_sched = out_s.filter(
        "status = 'scheduled' and host = 'host0000.test'"
    ).count()
    assert n_mega_sched == mega_budget
    out_1.unpersist(); out_s.unpersist()


def test_null_host_candidate_does_not_crash(spark, setup):
    """A caller-supplied host column may carry nulls (their extraction
    failing on a malformed URL); the fused kernel must process the row
    with scheduler defaults instead of crashing np.unique."""
    _spark, _web, _params, _preseen, _raw, robots = setup
    cand = spark.createDataFrame(
        pd.DataFrame({
            "url_hash": [11, 12],
            "url_canon": ["http://h0.test/a", "garbage-no-host"],
            "host": ["h0.test", None],
            "host_bucket": [0, 0],
            "priority": [1, 2],
        })
    )
    out = fused_filter_schedule(
        spark, cand, None, robots, SchedulerConfig(), n_host_buckets=N_BUCKETS
    ).collect()
    by_hash = {r["url_hash"]: r for r in out}
    assert by_hash[11]["status"] == "scheduled"
    assert by_hash[12]["status"] == "scheduled"  # defaults, no robots hit
    assert by_hash[12]["host"] == ""


@pytest.mark.parametrize("n_salts", [1, 4])
def test_arrow_kernel_matches_pandas_kernel(spark, setup, n_salts):
    """applyInArrow kernel (salted or not) ≡ the unsalted pandas kernel of
    tests/fused_oracles.py, row-for-row, including the emit_dropped
    dup/seen segments and lifetime-quota budgets."""
    _spark, _web, params, preseen, raw, robots = setup
    blobs = build_host_bucket_blobs(preseen, params)
    exact = preseen.select("url_hash", "host_bucket")
    hosts = pd.Series(["host0000.test", "host0001.test"])
    host_spent = spark.createDataFrame(pd.DataFrame({
        "host": hosts, "host_bucket": pmod_bucket(fnv64(hosts), N_BUCKETS),
        "spent": [995, 2],
    }))
    kw = dict(blobs=blobs, params=params, emit_dropped=True,
              total_budget_per_host=1000, n_host_buckets=N_BUCKETS)
    # the engine takes its spend rows inside the tagged state, as CrawlPlan
    # passes them; the oracle assembles its own state from host_spent
    state = (
        robots_state(spark, robots, N_BUCKETS)
        .unionByName(seen_state(exact))
        .unionByName(quota_state(host_spent))
    )

    def rows(df):
        # host_rank of deferred rows is not globally meaningful under
        # salting (phase-1-deferred rows report 0; module docstring)
        blank = n_salts > 1
        return sorted(
            t[:8] + ((None if blank and t[7] == "deferred" else t[8]),) + t[9:]
            for t in map(tuple, df.collect())
        )

    a = rows(fused_filter_schedule(
        spark, raw, None, None, SchedulerConfig(), n_salts=n_salts, state=state, **kw
    ))
    p = rows(pandas_fused_schedule(
        spark, raw, exact, robots, SchedulerConfig(), host_spent=host_spent, **kw
    ))
    assert a == p
    statuses = {t[7] for t in a}
    assert {"scheduled", "deferred", "dup", "seen"} <= statuses


@pytest.mark.parametrize("n_salts", [1, 4])
@pytest.mark.parametrize("mode,kept", [
    ("frontier", {"scheduled", "deferred"}),
])
def test_emit_strings_modes(spark, setup, mode, kept, n_salts):
    """emit_strings trims url_canon/host to the keep set and changes
    NOTHING else: every hash/flag column is bit-identical to mode="all",
    kept rows carry the identical strings, all other rows carry null —
    also under salting (where the loop's auto_salt can engage it with
    "frontier" strings)."""
    _spark, _web, params, preseen, raw, robots = setup
    blobs = build_host_bucket_blobs(preseen, params)
    exact = preseen.select("url_hash", "host_bucket")

    def go(emit_strings):
        rows = fused_filter_schedule(
            spark, raw, exact, robots, SchedulerConfig(), blobs=blobs,
            params=params, emit_dropped=True, n_host_buckets=N_BUCKETS,
            emit_strings=emit_strings, n_salts=n_salts,
        ).collect()
        return {r["url_hash"]: r for r in rows}

    full, trimmed = go("all"), go(mode)
    assert set(full) == set(trimmed)
    hash_cols = ["url_hash", "host_bucket", "priority", "is_new",
                 "retry_count", "status", "fetch_offset_ms"]
    if n_salts == 1:
        hash_cols.append("host_rank")  # not globally meaningful salted
    n_kept = 0
    for h, f in full.items():
        t = trimmed[h]
        assert [t[c] for c in hash_cols] == [f[c] for c in hash_cols]
        if f["status"] in kept:
            assert (t["url_canon"], t["host"]) == (f["url_canon"], f["host"])
            n_kept += 1
        else:
            assert t["url_canon"] is None and t["host"] is None
    assert n_kept > 0 and n_kept < len(full)


def test_crawl_loop_frontier_strings_identical(spark):
    """The loop runs emit_strings="frontier" (plans/crawl.py): a short
    crawl must produce the same pages + crawl order as the same loop
    forced to emit_strings="all"."""
    import contextlib
    from unittest import mock

    from crawlers_spark.operators.seen_set import BloomParams
    from crawlers_spark.plans import crawl as crawl_mod
    from crawlers_spark.plans.crawl import CrawlConfig, CrawlPlan
    from crawlers_spark.sources.synthweb import make_seed_urls

    web = SynthWebConfig(n_hosts=6, base_pages=40)

    def run(force_all):
        cfg = CrawlConfig(web=web, n_host_buckets=4, max_generations=3,
                          bloom=BloomParams.size_for(5_000, n_buckets=4))
        seeds = spark.createDataFrame(make_seed_urls(web, 12))
        orig = crawl_mod.fused_filter_schedule

        def no_trim(*a, **kw):
            kw["emit_strings"] = "all"
            return orig(*a, **kw)

        ctx = (
            mock.patch.object(crawl_mod, "fused_filter_schedule", side_effect=no_trim)
            if force_all else contextlib.nullcontext()
        )
        with ctx:
            res = CrawlPlan(spark, cfg).run(seeds)
            rows = res.crawl_log.select(
                "generation", "priority", "url_canon", "ok"
            ).collect()
        return sorted(map(tuple, rows))

    assert run(False) == run(True)
