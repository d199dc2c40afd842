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
    benchmark's resume probe) reads: pages, crawl_log, frontier_sched and
    seen_exact. The tagged state table carries exactly the fused step's
    state columns, and with a lifetime quota it is the only copy of the
    per-host spend (its tag='q' rows)."""
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
    assert sorted(os.listdir(ckpt)) == [
        "gen=00000", "gen=00001", "manifest_gen=00000.json", "manifest_gen=00001.json",
    ]
    for g in ("gen=00000", "gen=00001"):
        assert set(os.listdir(ckpt / g)) == want, g
        state = spark.read.parquet(str(ckpt / g / "seen_exact"))
        assert state.columns == STATE_COLS, g
        tags = {r["tag"] for r in state.select("tag").distinct().collect()}
        assert ("q" in tags) == (quota is not None), (g, tags)


def _fused_step_plans(monkeypatch) -> list[str]:
    """Capture the planned query of every fused step ``CrawlPlan.step``
    runs from here on, planned when the step builds it: under the loop's
    own shuffle width and AQE confs."""
    import crawlers_spark.plans.crawl as crawl_mod

    real_fused, plans = crawl_mod.fused_filter_schedule, []

    def capture(*args, **kw):
        out = real_fused(*args, **kw)
        plans.append(out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"))
        return out

    monkeypatch.setattr(crawl_mod, "fused_filter_schedule", capture)
    return plans


@pytest.mark.parametrize("quota", [None, 9])
def test_checkpointed_step_reads_bucketed_state(spark, tmp_path, monkeypatch, quota):
    """From generation 1 on, each step's fused cogroup reads the state
    table the last generation committed, bucketed on host_bucket, as it
    is, with or without a lifetime quota: only the candidate side
    shuffles."""
    plans = _fused_step_plans(monkeypatch)
    web = SynthWebConfig(n_hosts=4, base_pages=20)
    cfg = CrawlConfig(
        web=web, n_host_buckets=4, max_generations=3,
        checkpoint_dir=str(tmp_path / "ckpt"), total_budget_per_host=quota,
    )
    res = CrawlPlan(spark, cfg).run(spark.createDataFrame(make_seed_urls(web, 10)))
    assert res.generations == 3
    # the seed schedule, then one step per generation
    assert len(plans) == 4
    for g, plan in ((1, plans[2]), (2, plans[3])):
        assert plan.count("Exchange hashpartitioning") == 1, (g, plan)


@pytest.mark.parametrize("quota", [None, 9])
def test_resumed_step_reads_bucketed_state(spark, tmp_path, monkeypatch, quota):
    """A resumed run reads the committed state through the bucketed table
    that ``load`` declares over the checkpoint files, so with no catalog
    entry left (a fresh process) every resumed step still shuffles only
    its candidates, and the crawl still equals the serial oracle."""
    web = SynthWebConfig(n_hosts=4, base_pages=20, transient_fail_mod=3)
    seeds_pdf = make_seed_urls(web, 10)
    seeds = spark.createDataFrame(seeds_pdf)
    # a quote in the path: the table's LOCATION literal must escape it
    ckpt = str(tmp_path / "it's ckpt")

    def plan(gens):
        return CrawlPlan(spark, CrawlConfig(
            web=web, n_host_buckets=4, max_generations=gens, checkpoint_dir=ckpt,
            total_budget_per_host=quota,
        ))

    first = plan(2).run(seeds)
    resumed = plan(3)
    spark.sql(f"DROP TABLE IF EXISTS {resumed._table(1)}")
    plans = _fused_step_plans(monkeypatch)
    res = resumed.run(seeds, resume=True)
    assert res.generations == 5
    assert len(plans) == 3
    for g, p in enumerate(plans, start=2):
        assert p.count("Exchange hashpartitioning") == 1, (g, p)

    ora = crawl_serial(web, seeds_pdf, max_generations=5, total_budget_per_host=quota)
    eng = pd.concat([first.crawl_log.toPandas(), res.crawl_log.toPandas()])
    eng = eng.sort_values(["generation", "priority"])
    orl = ora.crawl_log.sort_values("order_rank")
    assert eng["url_canon"].tolist() == orl["url_canon"].tolist()
    assert eng["ok"].tolist() == orl["ok"].tolist()


def test_stream_batch_reads_bucketed_state(spark, tmp_path, monkeypatch):
    """Every stream_crawl batch after the first reads the state the last
    batch committed, bucketed, as it is: the batch plans in the stream's
    own session under the loop's confs, so only the seeds shuffle."""
    import os
    import re

    from crawlers_spark.streaming.micro_batch import stream_crawl

    web = SynthWebConfig(n_hosts=4, base_pages=20)
    seeds_dir = tmp_path / "seeds"
    seeds_dir.mkdir()
    seeds = make_seed_urls(web, 30)
    for b in range(3):
        f = seeds_dir / f"batch{b}.parquet"
        seeds.iloc[10 * b:10 * (b + 1)].to_parquet(f)
        os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))  # file order = batch order
    plans = _fused_step_plans(monkeypatch)
    query, plan = stream_crawl(
        spark, str(seeds_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"),
        web=web, n_host_buckets=4,
    )
    query.awaitTermination(180)
    assert query.exception() is None
    assert plan.latest_manifest()["generation"] == 2
    assert len(plans) == 3
    for b, p in enumerate(plans):
        # the loop's confs: AQE off, exchanges n_host_buckets wide (the
        # stream's session has AQE on and the test session's width, 8)
        assert "AdaptiveSparkPlan" not in p, (b, p)
        assert set(re.findall(r"hashpartitioning\(host_bucket#\d+, (\d+)\)", p)) == {"4"}, (b, p)
        if b:
            assert p.count("Exchange hashpartitioning") == 1, (b, p)


@pytest.mark.parametrize("quota,retries", [(9, 0), (9, 2), (None, 2)])
def test_resume_with_quota_and_retries_matches_oracle(spark, tmp_path, quota, retries):
    """A crawl stopped after two checkpointed generations and resumed for
    three more equals the serial oracle's five generations, with a
    lifetime quota (its spend read back from the state table) and with
    requeued failures (carried in frontier_sched)."""
    web = SynthWebConfig(n_hosts=6, base_pages=80, transient_fail_mod=3)
    seeds_pdf = make_seed_urls(web, 40)
    ora = crawl_serial(web, seeds_pdf, max_generations=5,
                       total_budget_per_host=quota, max_retries=retries)
    seeds = spark.createDataFrame(seeds_pdf)
    logs = []
    for gens, resume in ((2, False), (3, True)):
        cfg = CrawlConfig(
            web=web, n_host_buckets=8, max_generations=gens,
            checkpoint_dir=str(tmp_path / "ckpt"),
            total_budget_per_host=quota, max_retries=retries,
        )
        res = CrawlPlan(spark, cfg).run(seeds, resume=resume)
        logs.append(res.crawl_log.toPandas())

    eng = pd.concat(logs).sort_values(["generation", "priority"]).reset_index(drop=True)
    orl = ora.crawl_log.sort_values("order_rank").reset_index(drop=True)
    assert len(eng) == len(orl), (len(eng), len(orl))
    assert eng["url_canon"].tolist() == orl["url_canon"].tolist()
    assert eng["generation"].tolist() == orl["generation"].tolist()
    assert eng["ok"].tolist() == orl["ok"].tolist()
    eng_seen = set(res.seen_exact.toPandas()["url_hash"].astype(np.int64))
    assert eng_seen == {int(h) for h in ora.seen_hashes}
    if quota is not None:
        assert eng.groupby("host").size().max() == quota, "quota never binding"


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


def test_quota_with_retries_matches_oracle(spark):
    """Lifetime quota and requeued failures together, in memory: every
    scheduled attempt, a requeued failure's included, is charged to its
    host exactly once, as the serial oracle charges it."""
    web = SynthWebConfig(n_hosts=6, base_pages=80, transient_fail_mod=3)
    seeds_pdf = make_seed_urls(web, 40)
    ora = crawl_serial(web, seeds_pdf, max_generations=5,
                       total_budget_per_host=9, max_retries=2)
    cfg = CrawlConfig(web=web, n_host_buckets=8, max_generations=5,
                      total_budget_per_host=9, max_retries=2)
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
    eng_seen = set(res.seen_exact.toPandas()["url_hash"].astype(np.int64))
    assert eng_seen == {int(h) for h in ora.seen_hashes}
    # both mechanisms bind: some URL is fetched again, some host spends it all
    assert eng["url_canon"].duplicated().any(), "no failure was requeued"
    assert eng.groupby("host").size().max() == 9, "quota never binding"


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


def test_run_and_range_rank_add_no_cache_entry(spark):
    """A run and a range-path global_rank leave the session's cache
    manager as they found it: the seed frontier and the range-partitioned
    copy are lazy local checkpoints, not cache entries that outlive the
    call."""
    from crawlers_spark.operators.ranking import global_rank

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    web = SynthWebConfig(n_hosts=4, base_pages=20)
    cfg = CrawlConfig(web=web, n_host_buckets=4, max_generations=2)
    res = CrawlPlan(spark, cfg).run(spark.createDataFrame(make_seed_urls(web, 10)))
    assert res.generations == 2
    assert cache.isEmpty(), "run left a cache entry"
    df = spark.createDataFrame([(i % 7, i) for i in range(50)], "k long, h long")
    ranked = global_rank(df, ["k", "h"], "rk", num_partitions=3)
    assert sorted(r["rk"] for r in ranked.collect()) == list(range(50))
    assert cache.isEmpty(), "global_rank left a cache entry"


def test_resume_refuses_changed_bucket_count(spark, tmp_path):
    """Seen rows carry no host, so a checkpoint cannot be re-bucketed: a
    resume under another n_host_buckets raises, naming both counts,
    instead of missing seen rows that sit in other buckets."""
    web = SynthWebConfig(n_hosts=4, base_pages=20)
    seeds = spark.createDataFrame(make_seed_urls(web, 10))

    def plan(n_host_buckets):
        return CrawlPlan(spark, CrawlConfig(
            web=web, n_host_buckets=n_host_buckets, max_generations=1,
            checkpoint_dir=str(tmp_path / "ckpt"),
        ))

    assert plan(4).run(seeds).generations == 1
    with pytest.raises(ValueError, match="has 4 host buckets, the config 8"):
        plan(8).run(seeds, resume=True)


def test_generation_wall_ms_covers_commit(spark, tmp_path):
    """A generation's wall_ms includes its commit, where a checkpointed
    generation runs most of its jobs (the page, log, frontier and state
    writes): with a commit slower than the fetch and step of this small
    web, every wall_ms is still at least its commit's time."""
    import time

    web = SynthWebConfig(n_hosts=4, base_pages=20)
    cfg = CrawlConfig(web=web, n_host_buckets=4, max_generations=2,
                      checkpoint_dir=str(tmp_path / "ckpt"))
    plan = CrawlPlan(spark, cfg)
    real_commit, commit_ms = plan.commit, {}

    def slow_commit(g, *args):
        t0 = time.monotonic()
        time.sleep(3)
        out = real_commit(g, *args)
        commit_ms[g] = int((time.monotonic() - t0) * 1000)
        return out

    plan.commit = slow_commit
    res = plan.run(spark.createDataFrame(make_seed_urls(web, 10)))
    wall_ms = {r["generation"]: r["wall_ms"] for r in res.metrics.collect()}
    assert sorted(wall_ms) == sorted(commit_ms) == [0, 1]
    for g, ms in commit_ms.items():
        assert wall_ms[g] >= ms, (g, wall_ms[g], ms)


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


def test_pyfiles_zip_holds_its_own_checkout(tmp_path):
    """Two checkouts share one $TMPDIR. The second is older (its files
    keep older mtimes, as a ``git archive`` of an older commit does) and
    lacks one module: each must still ship a zip of exactly its own
    sources."""
    import os
    import shutil
    import subprocess
    import sys
    import zipfile

    import crawlers_spark

    pkg = os.path.dirname(os.path.abspath(crawlers_spark.__file__))
    ignore = shutil.ignore_patterns("__pycache__")
    new, old = tmp_path / "new", tmp_path / "old"
    shutil.copytree(pkg, new / "crawlers_spark", ignore=ignore)
    shutil.copytree(pkg, old / "crawlers_spark", ignore=ignore)
    (old / "crawlers_spark" / "streaming" / "micro_batch.py").unlink()
    for root, _dirs, files in os.walk(old):
        for fn in files:
            os.utime(os.path.join(root, fn), (1_000_000_000, 1_000_000_000))
    shared_tmp = tmp_path / "tmp"
    shared_tmp.mkdir()

    def ship(checkout):
        out = subprocess.run(
            [sys.executable, "-c",
             "from crawlers_spark.session import build_pyfiles_zip; print(build_pyfiles_zip())"],
            cwd=checkout, env={**os.environ, "TMPDIR": str(shared_tmp), "PYTHONPATH": str(checkout)},
            capture_output=True, text=True, timeout=120, check=True,
        )
        return out.stdout.strip().splitlines()[-1]

    def sources(checkout):
        return sorted(
            os.path.relpath(os.path.join(root, fn), checkout)
            for root, _dirs, files in os.walk(checkout) for fn in files if fn.endswith(".py")
        )

    for checkout in (new, old, new):
        with zipfile.ZipFile(ship(checkout)) as zf:
            assert sorted(zf.namelist()) == sources(checkout), checkout


def _module_zip(path, *names):
    import zipfile

    with zipfile.ZipFile(path, "a") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``zc_mod_a`` on sys.path, and the list of
    archives ``zipimport._read_directory`` reads while the test runs."""
    import sys
    import zipimport

    archive = str(tmp_path / "mods.zip")
    _module_zip(archive, "zc_mod_a")
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: (reads.append(a), read_directory(a))[1]
    )
    sys.path.insert(0, archive)
    yield archive, reads
    sys.path.remove(archive)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)


def test_zip_invalidation_skips_unchanged_archive(zip_on_path):
    """``importlib.invalidate_caches()``, which every PySpark worker calls
    per task, does not re-read a zip archive whose stat is unchanged."""
    import importlib
    import zipimport

    archive, reads = zip_on_path
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    from crawlers_spark import _zipcache

    installed = zipimport.zipimporter.invalidate_caches
    _zipcache.install()  # a second install keeps the one wrapper
    assert zipimport.zipimporter.invalidate_caches is installed


def test_zip_invalidation_sees_appended_module(zip_on_path):
    import importlib

    archive, reads = zip_on_path
    assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
    importlib.invalidate_caches()
    _module_zip(archive, "zc_mod_b")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"


def test_workers_run_the_stat_checked_zip_invalidation(spark):
    """Every Python worker that unpickles a package function runs the
    package's zip invalidation, so its per-task
    ``importlib.invalidate_caches()`` reads no unchanged archive."""
    import crawlers_spark

    def report(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda a: (reads.append(a), read_directory(a))[1]
        try:
            importlib.invalidate_caches()
            reads.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        owner = zipimport.zipimporter.invalidate_caches.__module__
        for _ in batches:
            pass
        # the closure holds the package module, pickled by name: the
        # worker imports the package to unpickle it, as for any package UDF
        yield pd.DataFrame({"owner": [owner], "rereads": [len(reads)],
                            "zips": [len(zipimport._zip_directory_cache)],
                            "package": [crawlers_spark.__name__]})

    rows = (
        spark.range(0, 16, 1, 16)
        .mapInPandas(report, "owner string, rereads long, zips long, package string")
        .collect()
    )
    assert len(rows) == 16
    for r in rows:
        assert r.owner == "crawlers_spark._zipcache", r
        assert r.rereads == 0 and r.zips >= 1, r
