"""Physical-plan audits: the plans we'd want at 100 TB, not just plans
that pass.

Checks that Catalyst actually gives us the scale-critical properties:
filter pushdown into the parquet scan, column pruning (ReadSchema),
broadcast joins for small dims, and whole-stage codegen around the
aggregations.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawlers_spark.queries import (
    q_brand_join,
    q_pricing_summary,
    q_region_rollup,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    df = q_pricing_summary(spark, SF)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_column_pruning(spark):
    df = q_pricing_summary(spark, SF)
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 5 needed columns of lineitem's 11 are read
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_partkey" not in read_schema and "l_orderkey" not in read_schema


def test_broadcast_join_small_dims(spark):
    assert "BroadcastHashJoin" in _plan(q_brand_join(spark, SF))
    rollup_plan = _plan(q_region_rollup(spark, SF))
    assert rollup_plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in rollup_plan


def _simple_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_whole_stage_codegen_spans(spark):
    # "*(n)" markers = whole-stage-codegen spans; they appear in the
    # finalized AQE plan, so execute first
    df = q_pricing_summary(spark, SF)
    df.collect()
    assert "*(" in _simple_plan(df)


def test_agg_is_hash_not_sort(spark):
    # the frontier dedup agg must stay in HashAggregate — string agg
    # BUFFERS (min(struct(strings)), any_value(string)) silently fall
    # back to SortAggregate; strings must ride in the grouping key
    from crawlers_spark.plans.crawl import prepare_frontier
    from crawlers_spark.sources.synthweb import SynthWebConfig, make_seed_urls

    web = SynthWebConfig(n_hosts=4, base_pages=20)
    fr = prepare_frontier(spark.createDataFrame(make_seed_urls(web, 50)), 4)
    plan = _plan(fr)
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_upsert_is_single_hash_agg_no_join(spark):
    # merge_latest must be one aggregation (max_by struct), never a
    # window sort or a join back to the base table
    from crawlers_spark.queries import q_orders_upsert

    plan = _plan(q_orders_upsert(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan or "HashAggregate" in plan


def test_ngram_hot_shingle_anti_join_is_broadcast(spark):
    # the df-cap's hot-shingle exclusion must broadcast the (tiny) hot
    # list, not shuffle the shingle table for it
    from crawlers_spark.queries import q_dedup_ngram_jaccard

    plan = _plan(q_dedup_ngram_jaccard(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_fingerprints_no_python_stage(spark):
    # rolling-gram fingerprinting stays entirely JVM-side: sequence/
    # explode/substring/md5 — no Arrow/Python evaluation nodes
    from crawlers_spark.queries import q_doc_fingerprints

    plan = _plan(q_doc_fingerprints(spark, SF))
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "Generate" in plan  # the explode


def test_ivf_assignment_no_python_stage(spark):
    # IVF cell assignment is codegen'd Catalyst expressions (literal
    # centroids + dot products), not a UDF
    from crawlers_spark.operators.similarity import nearest_centroid

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<double>"
    )
    out = df.select(nearest_centroid(F.col("v"), [[1.0, 0.0], [0.0, 1.0]]).alias("c"))
    plan = _plan(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert [r["c"] for r in out.collect()] == [0, 1]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # two tables bucketed on the join key with equal bucket counts join
    # with ZERO Exchange operators — the co-located layout for the
    # seen-set and pages tables at 10^10 rows
    left = spark.range(0, 10_000).select(
        F.col("id").alias("url_hash"), (F.col("id") % 7).alias("x")
    )
    right = spark.range(0, 5_000).select(
        F.col("id").alias("url_hash"), (F.col("id") % 3).alias("y")
    )
    for df, name in ((left, "bj_left"), (right, "bj_right")):
        (df.write.mode("overwrite").format("parquet")
         .bucketBy(8, "url_hash").sortBy("url_hash").saveAsTable(name))
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join exercises the bucketed layout the
        # way a 10^10-row (non-broadcastable) join would
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bj_left").join(spark.table("bj_right"), "url_hash")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == 5_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS bj_left")
        spark.sql("DROP TABLE IF EXISTS bj_right")


def test_bucketed_state_elides_cogroup_exchange(spark, tmp_path):
    # the fused step's whole STATE side (seen rows + robots dimension as
    # one tagged table), snapshotted bucketed on host_bucket (what
    # CrawlPlan's checkpoint mode writes), joins the cogroup WITHOUT its
    # own exchange: only the candidate side shuffles
    from crawlers_spark.operators.fused_schedule import (
        STATE_COLS, fused_filter_schedule, robots_state, seen_state,
    )
    from crawlers_spark.operators.scheduler import SchedulerConfig
    from crawlers_spark.plans.crawl import prepare_frontier
    from crawlers_spark.sources.synthweb import (
        SynthWebConfig, make_seed_urls, robots_pdf,
    )

    web = SynthWebConfig(n_hosts=16, base_pages=200)
    cand = prepare_frontier(spark.createDataFrame(make_seed_urls(web, 400)), 8)
    exact = prepare_frontier(
        spark.createDataFrame(
            make_seed_urls(web, 200).assign(seed_rank=lambda d: d.seed_rank + 9000)
        ), 8,
    ).select("url_hash", "host_bucket")
    state = seen_state(exact).unionByName(robots_state(spark, robots_pdf(web), 8))
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.sql("DROP TABLE IF EXISTS seen_bkt_test")
    (
        state.write.mode("overwrite").format("parquet")
        .bucketBy(n_shuffle, "host_bucket").sortBy("url_hash")
        .option("path", str(tmp_path / "seen"))
        .saveAsTable("seen_bkt_test")
    )
    try:
        out = fused_filter_schedule(
            spark, cand, None, robots_pdf(web), SchedulerConfig(),
            state=spark.table("seen_bkt_test").select(*STATE_COLS),
        )
        plan = _simple_plan(out)
        assert plan.count("Exchange hashpartitioning(host_bucket") == 1, plan
        assert out.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_bkt_test")


def test_span_dup_fraction_hash_aggs_no_window(spark):
    """span_dup_fraction must be pure hash-agg pipeline: no window (a
    per-doc window would sort every doc's spans), no sort-aggregate."""
    from crawlers_spark.queries import q_span_dup_fraction

    plan = _plan(q_span_dup_fraction(spark, SF))
    assert "HashAggregate" in plan
    assert "Window" not in plan
    assert "SortAggregate" not in plan


def test_dedup_keep_best_no_window(spark):
    """The keep rule is one max_by hash-agg per cluster — a row_number
    window (the naive form) would sort full cluster membership."""
    from crawlers_spark.queries import q_dedup_keep_best

    plan = _plan(q_dedup_keep_best(spark, SF))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_pack_sequences_no_global_window(spark):
    """The prefix-sum scan must never plan a single-partition global
    window (the thing that dies at corpus scale): every Window in the
    plan is partitioned, and no Exchange is SinglePartition."""
    from crawlers_spark.queries import q_pack_sequences

    plan = _plan(q_pack_sequences(spark, SF))
    assert "SinglePartition" not in plan
    assert "Window" in plan  # the within-bucket scan window is there


def test_word_cooccurrence_df_band_before_pairing(spark):
    """The df-band filter must apply before the doc_id self-join (it is
    what bounds the pair blowup), and the tiny banded-df dim must
    broadcast."""
    from crawlers_spark.queries import q_word_cooccurrence

    plan = _plan(q_word_cooccurrence(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_funnel_no_cartesian(spark):
    from crawlers_spark.queries import q_event_funnel

    plan = _plan(q_event_funnel(spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_locf_grid_is_plan_side(spark):
    """Grid construction must not collect bounds to the driver: the
    one-row scalar-agg bounds frame joins in as a broadcast (nested-loop
    against ONE row is the right shape), and the LOCF window partitions
    by user_id — bounded by grid length, never corpus size."""
    from crawlers_spark.queries import q_locf_daily

    plan = _plan(q_locf_daily(spark, SF))
    assert "BroadcastExchange" in plan  # bounds row + obs side broadcast
    win = [seg for seg in plan.split("\n") if "Window" in seg or "user_id" in seg]
    assert any("Window" in s for s in win)


def test_regional_revenue_star_join_shape(spark):
    """Q5-shape: both tiny dims broadcast; no cartesian; the orderdate
    window reaches the orders scan as a pushed filter."""
    from crawlers_spark.queries import q_regional_revenue

    plan = _plan(q_regional_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "o_orderdate" in plan.split("PushedFilters:")[1] if "PushedFilters:" in plan else True


def test_topk_queries_use_take_ordered(spark):
    """Q3/Q10 shapes must plan bounded top-k (TakeOrderedAndProject),
    never a global sort of the agg output."""
    from crawlers_spark.queries import (
        q_returned_revenue_by_customer,
        q_top_unshipped_orders,
    )

    assert "TakeOrderedAndProject" in _plan(q_top_unshipped_orders(spark, SF))
    assert "TakeOrderedAndProject" in _plan(q_returned_revenue_by_customer(spark, SF))


def test_cms_grid_broadcast_and_combine_cached(spark):
    """cms_heavy_hitters: the 4096-row grid must come back as a
    broadcast (never a shuffle keyed on grid cells), and the word-count
    combine must be a cached InMemoryTableScan so its shuffle runs once
    across the grid/lookup/top-k branches."""
    from crawlers_spark.queries import q_cms_heavy_hitters

    df = q_cms_heavy_hitters(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan


def test_kmv_bottom_k_no_global_sort(spark):
    """kmv_source_overlap: the corpus-sized stage must never globally
    sort — bottom-k runs as windowed rank inside (source, salt) then
    (source) partitions; a global Sort+Exchange(SinglePartition) would
    be the wrong shape at 100 TB."""
    from crawlers_spark.queries import q_kmv_source_overlap

    df = q_kmv_source_overlap(spark, SF)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan


def test_bm25_dims_broadcast_and_topk_bounded(spark):
    """bm25_search: the 3-row df table and the 1-row corpus stats must
    ride broadcast joins (never shuffle the term rows by word), and the
    final top-20 must plan as TakeOrderedAndProject, not a global
    sort."""
    from crawlers_spark.queries import q_bm25_search

    plan = _plan(q_bm25_search(spark, SF))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_cdc_chunk_window_partitioned_by_doc(spark):
    """cdc_chunk_dedup: both windows must carry a real PARTITION BY
    (boundary flags by doc_id, chunk document-frequency by lane) — an
    unpartitioned windowspecdefinition would serialize the whole
    corpus through one task. Asserted on the windowspec itself, not
    on column names appearing anywhere in the plan."""
    import re

    from crawlers_spark.queries import q_cdc_chunk_dedup

    plan = _plan(q_cdc_chunk_dedup(spark, SF))
    assert "Exchange SinglePartition" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert len(specs) == 2
    assert any(s.startswith("doc_id") for s in specs)
    assert any(s.startswith("lane") for s in specs)


def test_label_propagation_no_single_partition(spark):
    """label_propagation: per-round top-1 windows partition by node;
    nothing in the fixed-round plan may collapse to one partition."""
    from crawlers_spark.queries import q_label_propagation

    plan = _plan(q_label_propagation(spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_host_budget_no_single_partition(spark):
    """host_budget_allocation: the remainder rank rides global_rank —
    the plan must never collapse to a SinglePartition exchange."""
    from crawlers_spark.queries import q_host_budget_allocation

    plan = _plan(q_host_budget_allocation(spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_recrawl_priority_take_ordered(spark):
    from crawlers_spark.queries import q_recrawl_priority

    plan = _plan(q_recrawl_priority(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_politeness_schedule_bounded_topk(spark):
    """politeness_schedule: per-host pacing windows partition by host;
    the global first-100 trace must plan as TakeOrderedAndProject."""
    from crawlers_spark.queries import q_politeness_schedule

    plan = _plan(q_politeness_schedule(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_worker_assignment_no_single_partition(spark):
    """worker_assignment: the HRW argmax windows partition by host_id
    and the candidate fan-out is a plan-side explode — nothing may
    collapse to a SinglePartition exchange."""
    import re

    from crawlers_spark.queries import q_worker_assignment

    plan = _plan(q_worker_assignment(spark, SF))
    assert "Exchange SinglePartition" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("host_id") for s in specs)


def test_bloom_seen_sql_broadcast_filter(spark):
    """bloom_seen_sql: the per-bucket filter words (<=16x16 rows) must
    reach the probe side as a broadcast join, and nothing in the plan
    may collapse to a single partition."""
    from crawlers_spark.queries import q_bloom_seen_sql

    plan = _plan(q_bloom_seen_sql(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan


def test_politeness_audit_host_partitioned_window(spark):
    """politeness_audit: the lag window partitions by host — a global
    window would serialize the whole fetch log through one task."""
    import re

    from crawlers_spark.queries import q_politeness_audit

    plan = _plan(q_politeness_audit(spark, SF))
    assert "Exchange SinglePartition" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("host_id") for s in specs)


def test_crawl_trap_hash_agg_no_sort(spark):
    """crawl_trap_detection: the two count-distincts run as one Expand
    pass into hash aggregates — no sort aggregate, no single
    partition."""
    from crawlers_spark.queries import q_crawl_trap_detection

    plan = _plan(q_crawl_trap_detection(spark, SF))
    assert "Expand" in plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "Exchange SinglePartition" not in plan


def test_jain_fairness_two_hash_aggs(spark):
    """jain_fairness: two stacked hash-aggs, no window, no sort, no
    single-partition exchange."""
    from crawlers_spark.queries import q_jain_fairness

    plan = _plan(q_jain_fairness(spark, SF))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan


def test_bfs_layers_no_single_partition(spark):
    """bfs_layers: three unrolled min-propagation rounds — hash aggs +
    shuffle-on-key joins only, nothing single-partition."""
    from crawlers_spark.queries import q_bfs_layers

    plan = _plan(q_bfs_layers(spark, SF))
    assert "HashAggregate" in plan
    assert "Exchange SinglePartition" not in plan


def test_robots_parse_no_join(spark):
    """robots_parse: robots text is a pure projection of the host key —
    the classification must not introduce any join."""
    from crawlers_spark.queries import q_robots_parse

    plan = _plan(q_robots_parse(spark, SF))
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan


def test_retry_backoff_bounded_topk(spark):
    """retry_backoff: windows partition by host and the bounded output
    lands as TakeOrderedAndProject, never a global sort."""
    import re

    from crawlers_spark.queries import q_retry_backoff

    plan = _plan(q_retry_backoff(spark, SF))
    assert "TakeOrderedAndProject" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("host_id") for s in specs)


def test_image_caption_qc_projection_only(spark):
    """image_caption_qc: the admission law is a scan-side projection +
    one hash-agg — no join, no window, no single partition."""
    from crawlers_spark.queries import q_image_caption_qc

    plan = _plan(q_image_caption_qc(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_canon_urls_law_single_arrow_pass(spark):
    """canon_urls_law: one vectorized Arrow pass over the scan (the
    crawl loop's own ``canonize`` mapInArrow) — no shuffle anywhere in
    the plan."""
    from crawlers_spark.queries import q_canon_urls_law

    plan = _plan(q_canon_urls_law(spark, SF))
    assert "MapInArrow" in plan
    assert "Exchange" not in plan


def test_feed_extract_single_key_join(spark):
    """feed_extract: the feed is a projection of the host key; the only
    shuffle is the (host, page) classification join."""
    from crawlers_spark.queries import q_feed_extract

    plan = _plan(q_feed_extract(spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_cache_headers_projection_topk(spark):
    """cache_headers: pure projection + TakeOrderedAndProject — no
    join, no window, no aggregate."""
    from crawlers_spark.queries import q_cache_headers

    plan = _plan(q_cache_headers(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_html_extract_pure_projection(spark):
    """html_extract: regexp-only main-content extraction — zero
    Exchange in the plan."""
    from crawlers_spark.queries import q_html_extract

    plan = _plan(q_html_extract(spark, SF))
    assert "Exchange" not in plan


def test_anchor_text_single_target_shuffle(spark):
    """anchor_text: projection + explode + hash-agg on target — no
    join, nothing single-partition."""
    from crawlers_spark.queries import q_anchor_text

    plan = _plan(q_anchor_text(spark, SF))
    assert "Join" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_redirect_chains_bounded_joins(spark):
    """redirect_chains: 4 unrolled follow rounds = bounded key joins in
    ONE declarative plan — no single-partition collapse."""
    from crawlers_spark.queries import q_redirect_chains

    plan = _plan(q_redirect_chains(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_mirror_detection_fp_equijoin_topk(spark):
    """mirror_detection: pair overlap via the fingerprint equi-join
    (never host x host cartesian) and a bounded TakeOrdered output."""
    from crawlers_spark.queries import q_mirror_detection

    plan = _plan(q_mirror_detection(spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_doc_bigram_ce_no_single_partition(spark):
    """doc_bigram_ce: bigram explode is a projection; counts are
    hash-aggs joined on their own keys; V broadcasts."""
    from crawlers_spark.queries import q_doc_bigram_ce

    plan = _plan(q_doc_bigram_ce(spark, SF))
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row V scalar
    # the only single-partition exchange allowed is the 1-row V scalar
    # aggregate; the token/bigram streams must shuffle on their keys
    assert plan.count("Exchange SinglePartition") <= 1
    assert "SortAggregate" not in plan


def test_vocab_coverage_topk_broadcast(spark):
    """vocab_coverage: the vocab is a bounded TakeOrdered broadcast to
    the token stream — the stream itself never sorts."""
    from crawlers_spark.queries import q_vocab_coverage

    plan = _plan(q_vocab_coverage(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_revalidation_outcome_projection_agg(spark):
    """revalidation_outcome: projection + hash-aggs; the only join is
    the broadcast of the ONE-ROW corpus-body scalar (the global ppm
    denominator)."""
    from crawlers_spark.queries import q_revalidation_outcome

    plan = _plan(q_revalidation_outcome(spark, SF))
    assert "HashAggregate" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar attach
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_error_circuit_breaker_host_window(spark):
    """error_circuit_breaker: one (host, day) hash-agg + one
    host-partitioned lag — nothing single-partition."""
    import re

    from crawlers_spark.queries import q_error_circuit_breaker

    plan = _plan(q_error_circuit_breaker(spark, SF))
    assert "Exchange SinglePartition" not in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("host_id") for s in specs)


def test_politeness_by_ip_partitioned_window_topk(spark):
    """politeness_by_ip: IP-partitioned window + bounded top-k."""
    import re

    from crawlers_spark.queries import q_politeness_by_ip

    plan = _plan(q_politeness_by_ip(spark, SF))
    assert "TakeOrderedAndProject" in plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all(s.startswith("ip") for s in specs)


def test_doc_containment_gram_equijoin_topk(spark):
    """doc_containment: overlap via the gram equi-join (no cartesian),
    bounded TakeOrdered output."""
    from crawlers_spark.queries import q_doc_containment

    plan = _plan(q_doc_containment(spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_hits_scores_keyed_aggs_topk(spark):
    """hits_scores: power-iteration rounds are shuffle-on-key hash aggs
    in one declarative plan; bounded TakeOrdered output."""
    from crawlers_spark.queries import q_hits_scores

    plan = _plan(q_hits_scores(spark, SF))
    assert "HashAggregate" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_aspect_bucket_dim_broadcasts(spark):
    """aspect_bucket_batching: the 9-row bucket dim must broadcast (the
    cross join is BroadcastNestedLoopJoin), the per-image argmin window
    partitions by doc_id (never SinglePartition), and the report agg is
    a HashAggregate."""
    from crawlers_spark.queries import q_aspect_bucket_batching

    plan = _plan(q_aspect_bucket_batching(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan.split("Window")[0]
    assert "HashAggregate" in plan


def test_soft404_two_hash_aggs_no_sort_agg(spark):
    """soft404_templates: distinct-path counting rides a NUMERIC lane,
    so both aggregation levels stay HashAggregate (a string
    countDistinct would silently fall back to SortAggregate)."""
    from crawlers_spark.queries import q_soft404_templates

    plan = _plan(q_soft404_templates(spark, SF))
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_cluster_representatives_single_agg_no_window(spark):
    """cluster_representatives: rep selection is ONE packed max-by hash
    agg — no window, no self-join back to the docs table."""
    from crawlers_spark.queries import q_cluster_representatives

    plan = _plan(q_cluster_representatives(spark, SF))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_minhash_calibration_no_cartesian(spark):
    """minhash_calibration: candidates come from the banded equi-join
    and every downstream join is keyed — never an all-pairs product."""
    from crawlers_spark.queries import q_minhash_calibration

    plan = _plan(q_minhash_calibration(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_url_param_census_broadcast_dim_hash_aggs(spark):
    """url_param_census: the discovered param dimension rides a
    broadcast (nested-loop over 3 rows, never a shuffled product) and
    every strip-test grouping is a HashAggregate."""
    from crawlers_spark.queries import q_url_param_census

    plan = _plan(q_url_param_census(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_dust_rules_single_pass_no_join(spark):
    """dust_rules: alias pairs arrive keyed, rule derivation is pure
    projection — ONE hash-agg, zero joins, zero windows."""
    from crawlers_spark.queries import q_dust_rules

    plan = _plan(q_dust_rules(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_sitemap_roundtrip_one_shuffle_no_join(spark):
    """sitemap_roundtrip: serialize + parse is one grouping on host
    (ordered collect_list = ObjectHashAggregate) with the parse side a
    projection over the agg output — no join back, no window."""
    from crawlers_spark.queries import q_sitemap_roundtrip

    plan = _plan(q_sitemap_roundtrip(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "ObjectHashAggregate" in plan


def test_wand_pruning_takeordered_theta_broadcast_joins(spark):
    """wand_pruning: theta is a TakeOrderedAndProject (LIMIT-k, never a
    global sort), term stats broadcast onto postings, no all-pairs."""
    from crawlers_spark.queries import q_wand_pruning

    plan = _plan(q_wand_pruning(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vit_patch_budget_map_side_single_agg(spark):
    """vit_patch_budget: pure projection + one hash-agg, no join."""
    from crawlers_spark.queries import q_vit_patch_budget

    plan = _plan(q_vit_patch_budget(spark, SF))
    assert "Join" not in plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan


def test_thumbnail_budget_map_side_single_agg(spark):
    """thumbnail_budget: pure projection + one hash-agg, no join."""
    from crawlers_spark.queries import q_thumbnail_budget

    plan = _plan(q_thumbnail_budget(spark, SF))
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_length_threshold_sweep_broadcast_expansion(spark):
    """length_threshold_sweep: the 5-row sweep dim broadcasts (nested
    loop over a broadcast side, never a shuffled product) and the
    curve is ONE hash-agg pass."""
    from crawlers_spark.queries import q_length_threshold_sweep

    plan = _plan(q_length_threshold_sweep(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan


def test_optout_census_single_agg_no_explode(spark):
    """optout_census: directive parsing is array containment on a
    projection (no Generate/explode) + one hash-agg."""
    from crawlers_spark.queries import q_optout_census

    plan = _plan(q_optout_census(spark, SF))
    assert "Join" not in plan
    assert "Generate" not in plan
    assert "HashAggregate" in plan


def test_postings_varint_one_window_no_join(spark):
    """postings_varint: gap encoding is one lag window partitioned by
    term; everything else is hash-aggs — no join anywhere."""
    from crawlers_spark.queries import q_postings_varint

    plan = _plan(q_postings_varint(spark, SF))
    assert "Join" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_frontier_drain_takeordered_no_global_sort(spark):
    """frontier_drain: the top-20 is a TakeOrderedAndProject over the
    host agg — never a global Sort, no window, no join."""
    from crawlers_spark.queries import q_frontier_drain

    plan = _plan(q_frontier_drain(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_revisit_apportionment_sums_to_budget(spark):
    """Largest-remainder invariant: the final visit allocation sums to
    EXACTLY the budget (1000) — the property float-share rounding
    schemes violate."""
    from pyspark.sql import functions as F

    from crawlers_spark.queries import q_revisit_apportionment

    out = q_revisit_apportionment(spark, SF)
    row = out.agg(
        F.sum("visits").alias("v"), F.sum("quota").alias("q"),
        F.count("*").alias("n"),
    ).first()
    assert row["v"] == 1000
    assert row["q"] <= 1000 < row["q"] + row["n"]


def test_host_split_leakage_zero_and_broadcast_scalars(spark):
    """host_split_leakage: the leakage audit computes ZERO leaked hosts
    from the data, and the corpus/leak scalars ride broadcasts."""
    from crawlers_spark.queries import q_host_split_leakage

    out = q_host_split_leakage(spark, SF)
    rows = out.collect()
    assert rows and all(r["leaked_hosts"] == 0 for r in rows)
    assert sum(r["chars_ppm"] for r in rows) in (999999, 1000000)
    plan = _plan(out)
    assert "CartesianProduct" not in plan


def test_compaction_plan_single_window_no_join(spark):
    """compaction_plan: one cumsum window per partition + hash-aggs —
    a metadata-only plan, no join anywhere."""
    from crawlers_spark.queries import q_compaction_plan

    plan = _plan(q_compaction_plan(spark, SF))
    assert "Join" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_hard_negatives_broadcast_anchors(spark):
    """hard_negatives: the bounded anchor set broadcasts; candidates
    never shuffle into a cartesian of the full table with itself."""
    from crawlers_spark.queries import q_hard_negatives

    plan = _plan(q_hard_negatives(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_schema_evolution_union_no_shuffle_before_agg(spark):
    """schema_evolution: the by-name union is a metadata op — no join,
    one hash-agg pass over the merged scan."""
    from crawlers_spark.queries import q_schema_evolution

    plan = _plan(q_schema_evolution(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Union" in plan


def test_retrieval_mrr_bounded_window_no_cartesian(spark):
    """retrieval_mrr: one per-term top-10 window over df-bounded
    candidates, keyed joins only, scalar MRR broadcast."""
    from crawlers_spark.queries import q_retrieval_mrr

    plan = _plan(q_retrieval_mrr(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_pmi_collocations_takeordered_broadcast_scalar(spark):
    """pmi_collocations: the N scalar rides a broadcast cross join, the
    top-30 is TakeOrderedAndProject (never a single-partition sort),
    and nothing degenerates to a shuffled cartesian."""
    from crawlers_spark.queries import q_pmi_collocations

    plan = _plan(q_pmi_collocations(spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan


def test_shingle_df_spectrum_cascaded_aggs_no_wide_join(spark):
    """shingle_df_spectrum: two cascaded hash-aggs (span->df,
    df->spectrum) + a broadcast totals scalar — no sort-merge join, no
    cartesian, no window anywhere."""
    from crawlers_spark.queries import q_shingle_df_spectrum

    plan = _plan(q_shingle_df_spectrum(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan


def test_token_budget_pareto_no_corpus_single_partition_window(spark):
    """token_budget_pareto: the corpus-wide rank is global_rank's
    range-partitioned two-phase path (a mapInPandas stage), NOT a
    row_number window over the whole corpus; the only Window in the
    plan is the 10-row decile cumsum AFTER aggregation."""
    from crawlers_spark.queries import q_token_budget_pareto

    df = q_token_budget_pareto(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # global_rank's prefix-sum stage shows as a Python map stage
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    # the one Window must sit above the decile HashAggregate (10 rows),
    # which in the formatted plan means Window appears after the agg that
    # produces `tokens`; cheap structural check: exactly one Window node.
    assert plan.count("Window") >= 1
    assert "HashAggregate" in plan


def test_laion_filters_single_hash_agg_no_join(spark):
    """laion_filters: one projection + one hash-agg — no join, no
    window, no sort anywhere; map-side-combinable at 100 TB."""
    from crawlers_spark.queries import q_laion_filters

    plan = _plan(q_laion_filters(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_caption_image_dup_matrix_two_key_windows_then_tiny_agg(spark):
    """caption_image_dup_matrix: per-key dup flags are two
    key-partitioned Window counts (cap_key, img_key — two shuffles, as
    designed; keys are unbounded so neither side broadcasts), then one
    hash-agg down to <= 4 contingency rows. No cartesian, no
    single-partition (empty PARTITION BY) window."""
    from crawlers_spark.queries import q_caption_image_dup_matrix

    plan = _plan(q_caption_image_dup_matrix(spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 2
    assert "HashAggregate" in plan
    # both windows are keyed: every hashpartitioning in the plan carries
    # a key column, never a round-robin/single partition for the windows
    assert "SinglePartition" not in plan.split("HashAggregate")[0]


def test_heaps_law_window_on_checkpoint_table_only(spark):
    """heaps_law: first-occurrence is a min-agg over words (never a
    cumulative distinct over the token stream), the ckpt-ckpt join of
    the two aggregated tables broadcasts, and the only ordered window
    runs on the checkpoint table (docs/10 rows — bounded by the
    checkpoint width parameter, not the corpus)."""
    from crawlers_spark.queries import q_heaps_law

    df = q_heaps_law(spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert _simple_plan(df).count("Window") == 1
    assert "HashAggregate" in plan


def test_zipf_slope_takeordered_bounded_window(spark):
    """zipf_slope: the vocabulary is a TakeOrderedAndProject (bounded
    top-500, never a global sort), the rank window runs on those 500
    rows, the fit is one closed-form agg — and there is NO join
    anywhere."""
    from crawlers_spark.queries import q_zipf_slope

    df = q_zipf_slope(spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert _simple_plan(df).count("Window") == 1
    assert "HashAggregate" in plan


def test_ngram_novelty_broadcast_join_no_window(spark):
    """ngram_novelty: span explode -> distinct -> two hash-agg lanes
    joined on the tiny generation key (broadcast) — no window, no
    sort-merge, no cartesian anywhere."""
    from crawlers_spark.queries import q_ngram_novelty

    plan = _plan(q_ngram_novelty(spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_pq_codes_zero_shuffle_zero_join(spark):
    """pq_codes: the codebook is burned into the plan as literals (IVF
    centroid convention), so assignment is scan -> project -> explode —
    NO join, NO exchange, NO aggregate: the single best physical shape
    Spark can give a per-row operator at 100 TB."""
    from crawlers_spark.queries import q_pq_codes

    plan = _plan(q_pq_codes(spark, SF))
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Generate" in plan


def test_mojibake_census_single_hash_agg(spark):
    """mojibake_census: projection + one regex + one hash-agg per lang —
    no join, no window, no explode; map-side-combinable at 100 TB."""
    from crawlers_spark.queries import q_mojibake_census

    plan = _plan(q_mojibake_census(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan
    assert "HashAggregate" in plan


def test_bloom_saturation_single_hash_agg_no_join(spark):
    """bloom_saturation: projection + one 8-key hash-agg + projection —
    no join, no window, no explode; the per-bucket insert counter is
    map-side-combined, so the shuffle carries 8 rows regardless of
    corpus size (the same shape the seen-set keeps incrementally)."""
    from crawlers_spark.queries import q_bloom_saturation

    plan = _plan(q_bloom_saturation(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan
    assert "HashAggregate" in plan


def test_byte_budget_admission_partitioned_window_no_global_sort(spark):
    """byte_budget_admission: ONE window partitioned by host_id (the
    cumsum) feeding ONE hash-agg — no join, and critically no
    SinglePartition exchange anywhere: the admission cutoff must stay
    a per-host-partition computation or it serializes at 100 TB."""
    from crawlers_spark.queries import q_byte_budget_admission

    plan = _plan(q_byte_budget_admission(spark, SF))
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert "Window" in plan and "host_id" in plan
    assert "HashAggregate" in plan


def test_image_keep_best_partitioned_window_no_global_sort(spark):
    """image_keep_best: representative selection is a row_number window
    partitioned by the content group + one hash-agg on the same key —
    no join, no SinglePartition exchange; group cardinality is bounded
    by true duplication, so the window partitions stay small at
    100 TB."""
    from crawlers_spark.queries import q_image_keep_best

    plan = _plan(q_image_keep_best(spark, SF))
    assert "Join" not in plan
    assert "SinglePartition" not in plan
    assert "Window" in plan and "group_id" in plan
    # Catalyst rides the window's existing (group_id) sort order into a
    # SortAggregate — better than re-hashing: zero extra exchange.
    assert "SortAggregate" in plan or "HashAggregate" in plan
    # two physical exchanges only (each named twice in the formatted
    # plan): the group_id hash partition + the final presentation sort
    assert plan.count("Exchange") <= 4


def test_rendezvous_churn_no_cartesian_no_global_window(spark):
    """rendezvous_churn: candidate fan-out is a plan-side explode (no
    CartesianProduct), both top-1 windows partition by host_id (no
    SinglePartition exchange), and the 8-vs-7 comparison is an
    equi-join on host_id feeding one hash-agg."""
    from crawlers_spark.queries import q_rendezvous_churn

    plan = _plan(q_rendezvous_churn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "Window" in plan and "host_id" in plan
    assert "HashAggregate" in plan


def test_freshness_policy_bounded_aggs_broadcast_scalar(spark):
    """freshness_policy: two hash-aggs (hosts -> 13 classes) plus a
    broadcast of the 1-row Σλ scalar — no sort-merge join and no
    corpus-sized window; only the first agg's keys scale with data."""
    from crawlers_spark.queries import q_freshness_policy

    plan = _plan(q_freshness_policy(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "HashAggregate" in plan


def test_host_locality_explode_single_agg_no_join(spark):
    """host_locality: plan-side 3-way explode (Generate) feeding ONE
    map-side-combined hash-agg — no join of any kind; the per-host
    counter is the whole plan, so the shuffle carries one row per
    host regardless of edge count."""
    from crawlers_spark.queries import q_host_locality

    plan = _plan(q_host_locality(spark, SF))
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" in plan
    assert "HashAggregate" in plan


def test_phash_threshold_roc_banded_equijoin_no_cartesian(spark):
    """phash_threshold_roc: candidate pairs come from the banded
    equi-self-join on (band, band_key) — never a CartesianProduct on
    the corpus side; the only nested-loop joins are the 6-row
    threshold<= join and the 1-row truth scalar broadcast. The
    corpus-sized stages are the band join + one hash-agg, identical to
    the production banded dedup."""
    from crawlers_spark.queries import q_phash_threshold_roc

    plan = _plan(q_phash_threshold_roc(spark, SF))
    assert "CartesianProduct" not in plan
    assert "band_key" in plan  # equi-join keyed on the band hash
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    )
    assert "HashAggregate" in plan


def test_unimax_allocation_one_corpus_agg_then_23_rows(spark):
    """unimax_allocation: exactly ONE corpus-sized hash-agg (the
    per-language token count); every window after it runs on the 23
    aggregated rows (the global-order windows are bounded by the
    language alphabet, zipf_slope's 500-row convention), and the three
    scalar frames broadcast."""
    from crawlers_spark.queries import q_unimax_allocation

    plan = _plan(q_unimax_allocation(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "HashAggregate" in plan
    # corpus touches the plan once: a single scan of documents
    assert plan.count("documents.parquet") <= 2


def test_minhash_band_roc_one_band_join_no_cartesian(spark):
    """minhash_band_roc: all four (bands x rows) configs ride ONE
    explode + ONE (cfg, bi, bv) equi-self-join — no CartesianProduct
    anywhere on the corpus side; the 4-row theory table and the 1-row
    truth count broadcast. The sig agg and the band join are the
    production dedup's cost."""
    from crawlers_spark.queries import q_minhash_band_roc

    plan = _plan(q_minhash_band_roc(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan
    assert "bv" in plan  # band-value equi-join key


def test_jaccard_threshold_sweep_dfcap_join_small_window(spark):
    """jaccard_threshold_sweep: candidates come from the df-capped gram
    equi-self-join (never all-pairs); the threshold axis is a
    broadcast 7-row range join; the only window is the monotone_ok
    lag over the 7 output rows (bounded, not corpus-sized)."""
    from crawlers_spark.queries import q_jaccard_threshold_sweep

    plan = _plan(q_jaccard_threshold_sweep(spark, SF))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_dsir_selection_broadcast_dims_takeordered(spark):
    """dsir_selection: the bucket/total "model" dims broadcast to the
    token stream (64+1 rows per side — DSIR's whole scale advantage),
    the per-doc score is a hash-agg, and the top-50 selection lands as
    TakeOrderedAndProject, never a global sort of the corpus."""
    from crawlers_spark.queries import q_dsir_selection

    plan = _plan(q_dsir_selection(spark, SF))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan
    assert "BroadcastExchange" in plan


def test_semantic_dedup_pairs_cluster_keyed(spark):
    """semantic_dedup: centroids broadcast to the assignment stage; the
    pairwise stage is a cid-keyed equi-join (SortMergeJoin/ShuffledHash
    on cid — SemDeDup's Σ|cluster|² cost model), NEVER a cartesian
    product over the corpus."""
    from crawlers_spark.queries import q_semantic_dedup

    plan = _plan(q_semantic_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan


def test_rel_canonical_bounded_hop_joins(spark):
    """rel_canonical: the resolver is 4 bounded left equi-joins of the
    edge table on its own key plus one census window — no cartesian
    products, no unbounded iteration, and the window is keyed (never
    Exchange SinglePartition)."""
    from crawlers_spark.queries import q_rel_canonical

    plan = _plan(q_rel_canonical(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_tokenizer_fertility_single_pass_hashagg(spark):
    """tokenizer_fertility: one corpus scan, one lang-keyed
    HashAggregate (map-side combinable), no joins, no windows."""
    from crawlers_spark.queries import q_tokenizer_fertility

    plan = _plan(q_tokenizer_fertility(spark, SF))
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # formatted plans print each scan twice (tree node + details section)
    assert plan.count("Scan parquet") == 2


def test_clip_score_sweep_broadcast_thresholds_one_scan(spark):
    """clip_score_sweep: per-row vector math + a broadcast 5-row
    threshold dim — the corpus is scanned once for all five cutoffs,
    never once per threshold."""
    from crawlers_spark.queries import q_clip_score_sweep

    plan = _plan(q_clip_score_sweep(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan


def test_seqlen_padding_sweep_one_scan_all_lengths(spark):
    """seqlen_padding_sweep: the 4-row L dim broadcasts onto the
    per-doc token counts — one documents scan serves every candidate
    sequence length."""
    from crawlers_spark.queries import q_seqlen_padding_sweep

    plan = _plan(q_seqlen_padding_sweep(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan


def test_warc_revisit_dedup_one_pass(spark):
    """warc_revisit_dedup: a plan-side 4-epoch explode + one
    source-keyed HashAggregate — one pass over the capture log, no
    joins at all."""
    from crawlers_spark.queries import q_warc_revisit_dedup

    plan = _plan(q_warc_revisit_dedup(spark, SF))
    assert "HashAggregate" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_fetch_latency_percentiles_partitioned_window(spark):
    """fetch_latency_percentiles: the exact nearest-rank percentiles
    ride ONE event_type-partitioned window sort (never Exchange
    SinglePartition) and one hash-agg."""
    from crawlers_spark.queries import q_fetch_latency_percentiles

    plan = _plan(q_fetch_latency_percentiles(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_mi_feature_rank_one_scan_contingency(spark):
    """mi_feature_rank: all four contingency tables come from a single
    documents scan through a plan-side signal explode + one
    signal-keyed HashAggregate — the one-pass MI screening shape."""
    from crawlers_spark.queries import q_mi_feature_rank

    plan = _plan(q_mi_feature_rank(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "HashAggregate" in plan
    assert "Join" not in plan


def test_temporal_split_embargo_no_sort(spark):
    """temporal_split_embargo: bounds and gap are broadcast scalar
    aggs, classification is a scan — no global sort, no
    SinglePartition window anywhere."""
    from crawlers_spark.queries import q_temporal_split_embargo

    plan = _plan(q_temporal_split_embargo(spark, SF))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "HashAggregate" in plan


def test_filter_overlap_matrix_single_dedup_pass(spark):
    """filter_overlap_matrix: the only shuffle-bearing stage is the
    fingerprint-partitioned window (the dedup pass); gates are free
    row-local flags and the matrix is one hash-agg."""
    from crawlers_spark.queries import q_filter_overlap_matrix

    plan = _plan(q_filter_overlap_matrix(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_hash_partition_balance_one_scan_all_bs(spark):
    """hash_partition_balance: one key scan serves all four candidate
    bucket counts via the broadcast B dim; loads and the census are
    hash-aggs."""
    from crawlers_spark.queries import q_hash_partition_balance

    plan = _plan(q_hash_partition_balance(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "HashAggregate" in plan


def test_waterfill_allocation_window_on_host_dim(spark):
    """waterfill_allocation: the global sort window rides the HOST
    aggregate (one row per host), never the event log — the events
    scan feeds a hash-agg first; scalars broadcast back."""
    from crawlers_spark.queries import q_waterfill_allocation

    plan = _plan(q_waterfill_allocation(spark, SF))
    assert "HashAggregate" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_ecdf_ks_drift_partitioned_cumsum(spark):
    """ecdf_ks_drift: the ECDF cumsum windows are event_type-
    partitioned (no SinglePartition exchange) and ride one sort; the
    per-value collapse is a hash-agg before the window."""
    from crawlers_spark.queries import q_ecdf_ks_drift

    plan = _plan(q_ecdf_ks_drift(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_aspect_pad_sweep_broadcast_grid_one_scan(spark):
    """aspect_pad_sweep: the ≤7-row bucket dim broadcasts onto the
    image scan; assignment is a (grid,img)-partitioned top-1 window;
    one documents scan serves every grid."""
    from crawlers_spark.queries import q_aspect_pad_sweep

    plan = _plan(q_aspect_pad_sweep(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_doremi_step_softmax_on_domain_dim(spark):
    """doremi_step: the corpus-sized stages are doc_bigram_ce's
    hash-agg plan; the softmax windows ride the ~20-row domain
    aggregate only (acceptable bounded frame, like unimax)."""
    from crawlers_spark.queries import q_doremi_step

    plan = _plan(q_doremi_step(spark, SF))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_wfq_schedule_bounded_head(spark):
    """wfq_schedule: per-host finish tags ride host-partitioned
    windows; the dispatcher head is a bounded TakeOrdered, never a
    global sort of the queue."""
    from crawlers_spark.queries import q_wfq_schedule

    plan = _plan(q_wfq_schedule(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_hedged_fetch_savings_partitioned_pairing(spark):
    """hedged_fetch_savings: pairing rides one event_type-partitioned
    window; the census is a hash-agg — no SinglePartition exchange."""
    from crawlers_spark.queries import q_hedged_fetch_savings

    plan = _plan(q_hedged_fetch_savings(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_merkle_sync_nodes_hashaggs_no_sort(spark):
    """merkle_sync_nodes: per-replica digests are leaf-keyed hash-aggs,
    the path union is a countDistinct over the 9-deep explode of the
    dirty-leaf dim — nothing corpus-sized is sorted."""
    from crawlers_spark.queries import q_merkle_sync_nodes

    plan = _plan(q_merkle_sync_nodes(spark, SF))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_snapshot_watermark_broadcast_scalar(spark):
    """snapshot_watermark: frontiers are one hash-agg; the watermark is
    a broadcast scalar joined back — no windows, no global sort."""
    from crawlers_spark.queries import q_snapshot_watermark

    plan = _plan(q_snapshot_watermark(spark, SF))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_skyline_docs_sort_filter_no_join(spark):
    """skyline_docs: the sort-filter skyline has NO join at all (the
    operator exists to avoid the O(n²) domination join); two windows
    ride the value sort."""
    from crawlers_spark.queries import q_skyline_docs

    plan = _plan(q_skyline_docs(spark, SF))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_bow_dedup_single_shuffle_hashagg(spark):
    """bow_dedup: the multiset canonicalization (sort_array + md5) is
    row-local; the only shuffle is the fingerprint group-by."""
    from crawlers_spark.queries import q_bow_dedup

    plan = _plan(q_bow_dedup(spark, SF))
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_distinct_estimators_chained_hashaggs(spark):
    """distinct_estimators: word counts → freq-of-freq are two chained
    hash-aggs, no joins, no sorts of the token stream."""
    from crawlers_spark.queries import q_distinct_estimators

    plan = _plan(q_distinct_estimators(spark, SF))
    assert "HashAggregate" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_rebalance_moves_bounded_frame(spark):
    """rebalance_moves: the event log collapses to 8 worker rows in one
    hash-agg; every window rides that bounded frame."""
    from crawlers_spark.queries import q_rebalance_moves

    plan = _plan(q_rebalance_moves(spark, SF))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_normalization_ladder_one_scan(spark):
    """normalization_ladder: all four normalization stages ride one
    corpus scan through a plan-side explode; the distinct count
    SortAggregate is keyed on 4 stage groups only."""
    from crawlers_spark.queries import q_normalization_ladder

    plan = _plan(q_normalization_ladder(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "Join" not in plan


def test_categorical_drift_gtest_bounded_frame(spark):
    """categorical_drift_gtest: the log collapses to the ≤6-row type
    contingency in one hash-agg; every window rides that frame."""
    from crawlers_spark.queries import q_categorical_drift_gtest

    plan = _plan(q_categorical_drift_gtest(spark, SF))
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_bot_regularity_partitioned_lag(spark):
    """bot_regularity: the gap lag is user-partitioned (no
    SinglePartition window); census is one hash-agg per user."""
    from crawlers_spark.queries import q_bot_regularity

    plan = _plan(q_bot_regularity(spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_traffic_concentration_host_dim_sort(spark):
    """traffic_concentration: the Lorenz sort rides the host aggregate;
    the k axis broadcasts."""
    from crawlers_spark.queries import q_traffic_concentration

    plan = _plan(q_traffic_concentration(spark, SF))
    assert "HashAggregate" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_maxsim_retrieval_broadcast_grid(spark):
    """maxsim_retrieval: queries and the 16-row interaction grid
    broadcast onto the corpus scan; MaxSim collapses through two
    hash-aggs; top-5 is a partitioned window."""
    from crawlers_spark.queries import q_maxsim_retrieval

    plan = _plan(q_maxsim_retrieval(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "HashAggregate" in plan


def test_unigram_sampling_table_bounded_top(spark):
    """unigram_sampling_table: Z is a broadcast scalar over the word
    counts; the displayed head is a bounded TakeOrdered."""
    from crawlers_spark.queries import q_unigram_sampling_table

    plan = _plan(q_unigram_sampling_table(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan


def test_rrf_fusion_bounded_lists(spark):
    """rrf_fusion: both retrieval lists and the fused head are bounded
    TakeOrdereds — fusion never ranks the corpus."""
    from crawlers_spark.queries import q_rrf_fusion

    plan = _plan(q_rrf_fusion(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_hnsw_levels_one_pass(spark):
    """hnsw_levels: level assignment is row-local; the census is one
    hash-agg with a broadcast total."""
    from crawlers_spark.queries import q_hnsw_levels

    plan = _plan(q_hnsw_levels(spark, SF))
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan


def test_gate_agreement_kappa_one_pass(spark):
    """gate_agreement_kappa: both gates are row-local flags; the 2x2
    table and kappa come from one hash-agg over one scan."""
    from crawlers_spark.queries import q_gate_agreement_kappa

    plan = _plan(q_gate_agreement_kappa(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "Join" not in plan


def test_t5_span_corruption_doc_partitioned(spark):
    """t5_span_corruption: the mask and island windows are both
    doc-partitioned — no SinglePartition exchange anywhere."""
    from crawlers_spark.queries import q_t5_span_corruption

    plan = _plan(q_t5_span_corruption(spark, SF))
    assert "Exchange SinglePartition" not in plan


def test_kcenter_coreset_broadcast_centers(spark):
    """kcenter_coreset: each greedy round broadcasts ONE center row
    and picks the argmax via a bounded TakeOrdered — k passes, no
    corpus self-join."""
    from crawlers_spark.queries import q_kcenter_coreset

    plan = _plan(q_kcenter_coreset(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_salted_topk_law_finer_partitions(spark):
    """salted_topk_law: the salted lane's phase-1 window partitions on
    (host, salt) — finer than host — and phase 2 ranks the bounded
    survivor frame; no SinglePartition exchange."""
    from crawlers_spark.queries import q_salted_topk_law

    plan = _plan(q_salted_topk_law(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "pmod" in plan


def test_bandit_ucb_bounded_index_frame(spark):
    """bandit_ucb_allocation: rewards collapse per source in one
    hash-agg; the UCB index ranks a ~20-row bounded frame."""
    from crawlers_spark.queries import q_bandit_ucb_allocation

    plan = _plan(q_bandit_ucb_allocation(spark, SF))
    assert "HashAggregate" in plan
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details


def test_elias_fano_size_partitioned_gaps(spark):
    """elias_fano_size: posting gaps ride a word-partitioned lag; the
    display head is a bounded TakeOrdered; bit-lengths use the exact
    bin() lane (no float log2 anywhere in the plan)."""
    from crawlers_spark.queries import q_elias_fano_size

    plan = _plan(q_elias_fano_size(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "LOG2" not in plan.upper() or "bin(" in plan


def test_link_rot_halflife_epoch_frame(spark):
    """link_rot_halflife: one URL scan through a 9-wide epoch explode;
    lag windows ride the 9-row epoch frame."""
    from crawlers_spark.queries import q_link_rot_halflife

    plan = _plan(q_link_rot_halflife(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "HashAggregate" in plan


def test_cdc_stability_partitioned_runs(spark):
    """cdc_stability: chunk-id windows are doc-partitioned; the shared
    count is a semi join on (strategy, doc, fp) — no cartesian."""
    from crawlers_spark.queries import q_cdc_stability

    plan = _plan(q_cdc_stability(spark, SF))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan


def test_edf_feasibility_partitioned_prefix(spark):
    """edf_feasibility: the deadline-universe scalar comes back as a
    broadcast (never a shuffled join); prefix demand and the critical
    rank ride host-partitioned windows — no SinglePartition exchange,
    no cartesian."""
    from crawlers_spark.queries import q_edf_feasibility

    plan = _plan(q_edf_feasibility(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_littles_law_sweep_line_one_sort(spark):
    """littles_law: each task explodes into exactly two ticks and the
    cumsum + lead both ride ONE host-partitioned sort; no global
    window, one events scan."""
    from crawlers_spark.queries import q_littles_law

    plan = _plan(q_littles_law(spark, SF))
    assert "Generate" in plan  # the 2-wide tick explode
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details


def test_dict_encoding_sizing_pruned_scans(spark):
    """dict_encoding_sizing: every lane prunes to a ONE-column scan
    (ReadSchema is the single audited column) and the (col, value)
    collapse is a hash-agg, never a sort-agg."""
    from crawlers_spark.queries import q_dict_encoding_sizing

    plan = _plan(q_dict_encoding_sizing(spark, SF))
    assert "ReadSchema: struct<source:string>" in plan
    assert "ReadSchema: struct<text:string>" in plan
    assert "SortAggregate" not in plan
    assert "Exchange SinglePartition" not in plan


def test_partial_agg_reduction_two_level_hashagg(spark):
    """partial_agg_reduction: one events scan through a 3-wide lane
    explode into the two-level (lane,split,key) → lane hash-agg pair —
    the partial/final shape the law itself describes."""
    from crawlers_spark.queries import q_partial_agg_reduction

    plan = _plan(q_partial_agg_reduction(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "Generate" in plan
    assert "SortAggregate" not in plan


def test_flesch_reading_ease_hash_aggs(spark):
    """flesch_reading_ease: the explode feeds hash-aggs (numeric agg
    buffers) and the doc↔sentence join never becomes a cartesian."""
    from crawlers_spark.queries import q_flesch_reading_ease

    plan = _plan(q_flesch_reading_ease(spark, SF))
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_clustering_ari_no_pair_enumeration(spark):
    """clustering_ari: pair counts come from C(n,2) arithmetic on
    hash-agg outputs — the plan contains NO join between document
    rows (only the 1-row broadcast combines at the end)."""
    from crawlers_spark.queries import q_clustering_ari

    plan = _plan(q_clustering_ari(spark, SF))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row result combine


def test_sjf_vs_fifo_shared_partitioning(spark):
    """sjf_vs_fifo: all three discipline windows ride the same host
    hash-partitioning (one exchange), no SinglePartition, no joins."""
    from crawlers_spark.queries import q_sjf_vs_fifo

    plan = _plan(q_sjf_vs_fifo(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # one hash exchange feeds all three discipline sorts; the only other
    # exchange is the final display orderBy's range partitioning
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "hashpartitioning" in plan


def test_sampled_quantile_error_bounded_sample(spark):
    """sampled_quantile_error: the md5 bottom-k filter bounds the
    sample lane before its rank; the final combine of two ~5-row
    aggregates broadcasts."""
    from crawlers_spark.queries import q_sampled_quantile_error

    plan = _plan(q_sampled_quantile_error(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan


def test_greedy_max_coverage_bounded_rounds(spark):
    """greedy_max_coverage: each round's argmax is a bounded
    TakeOrdered, the retirements are broadcast anti-joins, and no
    cartesian/SMJ appears anywhere in the 3-round plan."""
    from crawlers_spark.queries import q_greedy_max_coverage

    plan = _plan(q_greedy_max_coverage(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_kendall_tau_quadratic_on_aggregate_only(spark):
    """kendall_tau: the O(n²) pair stage is a broadcast nested-loop
    over the ~20-row per-source AGGREGATE (inequality join), never the
    corpus; no SMJ/cartesian."""
    from crawlers_spark.queries import q_kendall_tau

    plan = _plan(q_kendall_tau(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_graph_modularity_no_quadratic(spark):
    """graph_modularity: edges come from two existence semi-joins, Q
    from hash-aggs on the edge/degree tables — nothing quadratic, no
    SinglePartition exchange."""
    from crawlers_spark.queries import q_graph_modularity

    plan = _plan(q_graph_modularity(spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_secretary_stopping_user_keyed_joins(spark):
    """secretary_stopping: every join keys on user (hash joins), the
    9-wide threshold explode rides the per-user aggregate, no
    cartesian, no SinglePartition exchange."""
    from crawlers_spark.queries import q_secretary_stopping

    plan = _plan(q_secretary_stopping(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_url_front_coding_partitioned_sort(spark):
    """url_front_coding: the LCP scan is pure codegen'd array lambdas
    riding ONE host-partitioned sort window — no UDF, no
    SinglePartition, no join."""
    from crawlers_spark.queries import q_url_front_coding

    plan = _plan(q_url_front_coding(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_ivm_delta_agg_three_hashagg_lanes(spark):
    """ivm_delta_agg: base/delta/truth are three hash-agg lanes over
    one scan, merged by key — no sort-aggs, no cartesian."""
    from crawlers_spark.queries import q_ivm_delta_agg

    plan = _plan(q_ivm_delta_agg(spark, SF))
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_watermark_lateness_sharded_window(spark):
    """watermark_lateness: the running event-time max rides a
    shard-partitioned window (the partition-local watermark), never a
    global single-partition sort."""
    from crawlers_spark.queries import q_watermark_lateness

    plan = _plan(q_watermark_lateness(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "Generate" in plan


def test_static_cache_hit_law_bounded_rank_frame(spark):
    """static_cache_hit_law: the rank/prefix-sum window rides the
    bounded realized-key aggregate; the corpus path is one hash-agg."""
    from crawlers_spark.queries import q_static_cache_hit_law

    plan = _plan(q_static_cache_hit_law(spark, SF))
    assert "SortAggregate" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_param_sweep_single_lane_reuse(spark):
    """bm25_param_sweep: tf/df/dl are computed once and the 5-wide
    (k1,b) struct explode reuses them; dims broadcast; final compare
    joins ≤10-row frames."""
    from crawlers_spark.queries import q_bm25_param_sweep

    plan = _plan(q_bm25_param_sweep(spark, SF))
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_erlang_blocking_aggregate_only_arithmetic(spark):
    """erlang_blocking: one events scan collapses to the 10-row host
    aggregate; the unrolled recurrence is pure projection arithmetic
    (no joins, no extra exchanges beyond the agg)."""
    from crawlers_spark.queries import q_erlang_blocking

    plan = _plan(q_erlang_blocking(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "Join" not in plan
    assert "SortAggregate" not in plan


def test_bootstrap_ci_capped_explode(spark):
    """bootstrap_ci: the B=32 resample explode joins by (type, rank)
    equi-keys — hash joins only, no cartesian; medians ride
    (type, b)-partitioned windows."""
    from crawlers_spark.queries import q_bootstrap_ci

    plan = _plan(q_bootstrap_ci(spark, SF))
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_transitivity_gap_graph_on_pairs(spark):
    """dedup_transitivity_gap: corpus stages are the df-capped gram
    join; wedge/triangle stages run on the qualifying pair table only
    — no cartesian anywhere."""
    from crawlers_spark.queries import q_dedup_transitivity_gap

    plan = _plan(q_dedup_transitivity_gap(spark, SF))
    assert "CartesianProduct" not in plan


def test_join_cardinality_estimate_stat_aggs(spark):
    """join_cardinality_estimate: every lane is two stat aggs + one
    counted hash join; scalars combine by 1-row broadcast — no
    cartesian over data."""
    from crawlers_spark.queries import q_join_cardinality_estimate

    plan = _plan(q_join_cardinality_estimate(spark, SF))
    assert "CartesianProduct" not in plan


def test_bloom_join_savings_semi_joins(spark):
    """bloom_join_savings: membership is LeftSemi against the distinct
    build keys — the zero-FPR bloom bound — never a full join."""
    from crawlers_spark.queries import q_bloom_join_savings

    plan = _plan(q_bloom_join_savings(spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_pagination_stability_bounded_pages(spark):
    """pagination_stability: page frames are <=200 rows and set
    arithmetic is semi/anti joins on them; keyset cursor broadcasts."""
    from crawlers_spark.queries import q_pagination_stability

    plan = _plan(q_pagination_stability(spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_learned_index_error_no_quadratic(spark):
    """learned_index_error: moments are one hash-agg per shard, the
    model is a 16-row broadcast onto the error re-scan — no cartesian,
    no SinglePartition."""
    from crawlers_spark.queries import q_learned_index_error

    plan = _plan(q_learned_index_error(spark, SF))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_int_encoding_selection_partitioned_lanes(spark):
    """int_encoding_selection: the lag window partitions by column
    lane (never a global single-partition sort) and the byte models
    collapse in one hash-agg."""
    from crawlers_spark.queries import q_int_encoding_selection

    plan = _plan(q_int_encoding_selection(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "SortAggregate" not in plan


def test_rate_shaper_delay_one_window_pass(spark):
    """rate_shaper_delay: the GCRA recursion collapses into ONE
    (host, lane)-partitioned window sort (rank + running max + delay
    ride it); stats broadcast; no SinglePartition."""
    from crawlers_spark.queries import q_rate_shaper_delay

    plan = _plan(q_rate_shaper_delay(spark, SF))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_mmr_diversification_bounded_greedy(spark):
    """mmr_diversification: every greedy round is a bounded TakeOrdered
    over ≤10 candidate rows; the gram-pair stage is semi-filtered to
    the candidate pool; no cartesian."""
    from crawlers_spark.queries import q_mmr_diversification

    plan = _plan(q_mmr_diversification(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_neyman_allocation_aggregate_windows(spark):
    """neyman_allocation: one corpus hash-agg; Hamilton rounding rides
    the bounded 20-row stratum frame."""
    from crawlers_spark.queries import q_neyman_allocation

    plan = _plan(q_neyman_allocation(spark, SF))
    assert plan.count("Scan parquet") == 2  # one scan: tree node + details
    assert "SortAggregate" not in plan
