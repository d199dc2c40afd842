"""The traced run: a layer-by-layer replay of one generation.

Each layer's public function is called on the workload's own inputs, one
call at a time, and its result is forced with an action inside the
layer's span, so a span's duration is that layer's wall. The order is
the crawl loop's: fetch -> canonize the links -> seen-set blobs ->
fused schedule -> rank -> checkpoint write -> resume read, followed by
the curation layers (decode, phash band pairs, cluster reps) over the
workload's pages.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import functions as F

from crawlers_spark.operators.dedup import hash_band_pairs
from crawlers_spark.operators.fused_schedule import (
    build_host_bucket_blobs,
    fused_filter_schedule,
    robots_state,
    seen_state,
)
from crawlers_spark.operators.graph import dedup_cluster_reps
from crawlers_spark.operators.ranking import global_rank
from crawlers_spark.operators.scheduler import SchedulerConfig
from crawlers_spark.operators.seen_set import bloom_test_blob, build_bucket_filters
from crawlers_spark.plans.crawl import (
    FRONTIER_COLS,
    MAX_LINK_SLOTS,
    PAGES_COLS,
    CrawlConfig,
    CrawlPlan,
    canonize,
)
from crawlers_spark.sources.fetcher import fetch_scheduled

from harness import walk_dir
from workloads import MAX_HAMMING, band_join_rows, decode_and_hash

NEXT_STATUSES = ("scheduled", "deferred", "disallowed")
LOG_COLS = ["generation", "priority", "url_canon", "host", "host_bucket", "ok",
            "fetch_offset_ms"]

# (name, unit) of every per-layer metric; BENCHMARK.json lists the same.
LAYER_METRICS = [
    ("functions.canon_s", "s"),
    ("functions.canon_rows_per_s", "1/s"),
    ("functions.decode_images_per_s", "1/s"),
    ("sources.fetch_s", "s"),
    ("sources.fetch_pages_per_s", "1/s"),
    ("sources.fetch_failed_ratio", "ratio"),
    ("operators.fused_s", "s"),
    ("operators.fused_rows_in", "count"),
    ("operators.fused_survivor_ratio", "ratio"),
    ("operators.fused_max_bucket_share", "ratio"),
    ("operators.bloom_build_s", "s"),
    ("operators.bloom_pass_ratio", "ratio"),
    ("operators.rank_s", "s"),
    ("operators.band_pairs_s", "s"),
    ("operators.band_verified_ratio", "ratio"),
    ("operators.components_s", "s"),
    ("operators.components_jobs", "count"),
    ("plans.jobs_per_generation", "count"),
    ("plans.tasks_per_generation", "count"),
    ("plans.checkpoint_write_s", "s"),
    ("plans.checkpoint_files_per_generation", "count"),
    ("plans.checkpoint_bytes_per_generation", "bytes"),
    ("plans.resume_read_s", "s"),
    ("session.shuffle_bytes", "bytes"),
    ("session.spill_bytes", "bytes"),
    ("session.gc_s", "s"),
    ("session.python_task_s", "s"),
    ("trace.traced_wall_s", "s"),
    ("trace.untraced_wall_s", "s"),
    ("trace.overhead_s", "s"),
]


def write_checkpoint(spark, d: str, gen: int, inp: dict, fetched, out, ranked,
                     next_priority: int) -> None:
    """One generation's checkpoint in the layout ``CrawlPlan`` writes:
    pages, crawl_log, frontier_sched, frontier, the bucketed tagged state
    table, Bloom filters and the JSON manifest."""
    nb, params = inp["host_buckets"], inp["params"]
    dgen = os.path.join(d, f"gen={gen:05d}")
    fetched.filter("ok").select(*PAGES_COLS, "generation", "host_bucket", "priority",
                                "url_canon").write.mode("overwrite").parquet(
        os.path.join(dgen, "pages"))
    fetched.select(*LOG_COLS).write.mode("overwrite").parquet(os.path.join(dgen, "crawl_log"))
    nxt = out.filter(~F.col("is_new") & F.col("status").isin("scheduled", "deferred")) \
        .unionByName(ranked.filter(F.col("status").isin("scheduled", "deferred")))
    nxt.write.mode("overwrite").parquet(os.path.join(dgen, "frontier_sched"))
    spark.read.parquet(os.path.join(dgen, "frontier_sched")).select(*FRONTIER_COLS) \
        .write.mode("overwrite").parquet(os.path.join(dgen, "frontier"))
    exact = inp["exact"].unionByName(ranked.select("url_hash", "host_bucket"))
    state = seen_state(exact).unionByName(robots_state(spark, inp["robots"], nb)).withColumn(
        "bloom_bucket",
        F.when(F.col("tag") == "s",
               F.pmod(F.col("url_hash"), F.lit(params.n_buckets))).cast("int"),
    )
    table = f"perfbench_seen_{gen:05d}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (state.write.mode("overwrite").format("parquet")
     .bucketBy(nb, "host_bucket").sortBy("url_hash")
     .option("path", os.path.join(dgen, "seen_exact")).saveAsTable(table))
    build_bucket_filters(exact, params).write.mode("overwrite").parquet(
        os.path.join(dgen, "filters"))
    with open(os.path.join(d, f"manifest_gen={gen:05d}.json"), "w") as f:
        json.dump({"generation": gen, "next_priority": next_priority, "filter_epoch": 0,
                   "lineage": {"host_buckets": nb, "bloom_buckets": params.n_buckets,
                               "fused": True}}, f)


def replay(spark, tracer, inp: dict, out_dir: str) -> None:
    """Runs the traced layer replay. Each span records the counts its
    layer produced next to its timing."""
    web, nb, params = inp["web"], inp["host_buckets"], inp["params"]
    with tracer.span("replay"):
        with tracer.span("sources.fetch") as n_fetch:
            fetched = fetch_scheduled(inp["fetch_input"], web).persist()
            by_ok = {r["ok"]: r["count"] for r in fetched.groupBy("ok").count().collect()}
        n_fetch["ok"], n_fetch["failed"] = by_ok.get(True, 0), by_ok.get(False, 0)

        if inp["links_from_fetch"]:
            messy = fetched.select(
                F.col("priority").alias("parent_priority"),
                F.posexplode_outer("links").alias("slot", "url"),
            ).filter(F.col("url").isNotNull())
            prio = F.col("parent_priority") * MAX_LINK_SLOTS + F.col("slot")
        else:
            messy, prio = inp["messy"], F.col("priority")
        with tracer.span("functions.canonize") as n_canon:
            cand = canonize(messy, nb, keep_host=False).select(
                "url_hash", "url_canon", "host_bucket", prio.cast("long").alias("priority"),
                F.lit(True).alias("is_new"), F.lit(0).alias("retry_count"),
            ).persist()
            n_canon["rows"] = cand.count()

        probes = cand.select("url_hash", "host_bucket").toPandas().drop_duplicates()
        with tracer.span("operators.seen_set.build"):
            blobs = build_host_bucket_blobs(inp["exact"], params)
        with tracer.span("operators.seen_set.probe") as n_probe:
            passed = sum(
                int(bloom_test_blob(g["url_hash"].to_numpy(np.int64), blobs.get(int(b)),
                                    params).sum())
                for b, g in probes.groupby("host_bucket")
            )
        n_probe["probes"], n_probe["passed"] = len(probes), passed

        with tracer.span("operators.fused_schedule") as n_fused:
            use_blobs = inp["pass_blobs"]
            out = fused_filter_schedule(
                spark, cand, None, inp["robots"], SchedulerConfig(),
                blobs=blobs if use_blobs else None, params=params if use_blobs else None,
                emit_dropped=True, n_host_buckets=nb, state=inp["state"],
                emit_strings="frontier",
            ).persist()
            status = {r["status"]: r["count"]
                      for r in out.filter("is_new").groupBy("status").count().collect()}
        per_bucket = probes.groupby("host_bucket").size()
        n_fused["rows_in"] = n_canon["rows"]
        n_fused["new_survivors"] = sum(status.get(s, 0) for s in NEXT_STATUSES)
        n_fused["max_bucket_share"] = (
            float(per_bucket.max() / (len(probes) / nb)) if len(probes) else 0.0
        )

        with tracer.span("operators.ranking") as n_rank:
            new_rows = out.filter(F.col("is_new") & F.col("status").isin(*NEXT_STATUSES))
            ranked, n_rank["ranked"] = global_rank(
                new_rows, ["priority", "url_hash"], "__minted",
                start=inp["next_priority"], with_count=True, num_partitions=nb,
            )
            ranked = ranked.withColumn("priority", F.col("__minted")).drop("__minted") \
                .localCheckpoint(eager=True)

        ckpt = os.path.join(out_dir, "ckpt")
        gen = 1
        with tracer.span("plans.checkpoint_write") as n_ckpt:
            write_checkpoint(spark, ckpt, gen, inp, fetched, out, ranked,
                             inp["next_priority"] + n_rank["ranked"])
        n_ckpt["files"], n_ckpt["bytes"] = walk_dir(ckpt)

        with tracer.span("plans.resume_read"):
            plan = CrawlPlan(spark, CrawlConfig(web=web, n_host_buckets=nb,
                                                checkpoint_dir=ckpt))
            manifest = plan.latest_manifest()
            dgen = os.path.join(ckpt, f"gen={manifest['generation']:05d}")
            spark.read.parquet(os.path.join(dgen, "frontier_sched")) \
                .filter("status = 'scheduled'").count()
            spark.read.parquet(os.path.join(dgen, "seen_exact")).filter("tag = 's'").count()

        pages = inp["pages"]
        if pages is None:
            pages = fetched.filter("ok").select(*PAGES_COLS)
        with tracer.span("functions.images.decode") as n_decode:
            decoded = decode_and_hash(pages).persist()
            n_decode["rows"] = decoded.count()
        with tracer.span("operators.dedup.band_pairs") as n_pairs:
            pairs = hash_band_pairs(decoded.select("image_id", "phash"),
                                    max_hamming=MAX_HAMMING).persist()
            n_pairs["pairs"] = pairs.count()
        with tracer.span("operators.graph.components") as n_comp:
            reps = dedup_cluster_reps(pairs, all_ids=decoded.select("image_id"),
                                      id_col="image_id")
            n_comp["clusters"] = reps.filter("is_rep").count()
    hashes = decoded.select("phash").toPandas()["phash"].to_numpy(np.int64)
    n_pairs["band_rows"] = band_join_rows(hashes, MAX_HAMMING)
    for df in (pairs, decoded, out, cand, fetched):
        df.unpersist()


def layer_metrics(tracer, unit_wall: float, unit_jobs: int, unit_tasks: dict,
                  generations: int, ckpt_dir: str | None) -> dict:
    """Per-layer metric values from the replay's spans and their counts,
    the untraced unit's job/task counters and the checkpoint on disk."""
    s = {sp.name: sp for sp in tracer.spans}
    n = {sp.name: sp.counts for sp in tracer.spans}
    fetch, fused = n["sources.fetch"], n["operators.fused_schedule"]
    probe, pairs = n["operators.seen_set.probe"], n["operators.dedup.band_pairs"]

    def ratio(a, b):
        return a / b if b else 0.0

    if ckpt_dir is not None:  # a real CrawlPlan checkpoint
        files, size = walk_dir(ckpt_dir)
        gens = max(1, sum(1 for d in os.listdir(ckpt_dir) if d.startswith("gen=")))
    else:  # the replay's own one-generation checkpoint
        files, size, gens = n["plans.checkpoint_write"]["files"], \
            n["plans.checkpoint_write"]["bytes"], 1
    traced = s["replay"].seconds
    v = {
        "functions.canon_s": s["functions.canonize"].seconds,
        "functions.canon_rows_per_s": ratio(n["functions.canonize"]["rows"],
                                            s["functions.canonize"].seconds),
        "functions.decode_images_per_s": ratio(n["functions.images.decode"]["rows"],
                                               s["functions.images.decode"].seconds),
        "sources.fetch_s": s["sources.fetch"].seconds,
        "sources.fetch_pages_per_s": ratio(fetch["ok"], s["sources.fetch"].seconds),
        "sources.fetch_failed_ratio": ratio(fetch["failed"], fetch["ok"] + fetch["failed"]),
        "operators.fused_s": s["operators.fused_schedule"].seconds,
        "operators.fused_rows_in": fused["rows_in"],
        "operators.fused_survivor_ratio": ratio(fused["new_survivors"], fused["rows_in"]),
        "operators.fused_max_bucket_share": fused["max_bucket_share"],
        "operators.bloom_build_s": s["operators.seen_set.build"].seconds,
        "operators.bloom_pass_ratio": ratio(probe["passed"], probe["probes"]),
        "operators.rank_s": s["operators.ranking"].seconds,
        "operators.band_pairs_s": s["operators.dedup.band_pairs"].seconds,
        "operators.band_verified_ratio": ratio(pairs["pairs"], pairs["band_rows"]),
        "operators.components_s": s["operators.graph.components"].seconds,
        "operators.components_jobs": (s["operators.graph.components"].last_job
                                      - s["operators.graph.components"].first_job),
        "plans.jobs_per_generation": unit_jobs / generations,
        "plans.tasks_per_generation": unit_tasks["tasks"] / generations,
        "plans.checkpoint_write_s": s["plans.checkpoint_write"].seconds,
        "plans.checkpoint_files_per_generation": files / gens,
        "plans.checkpoint_bytes_per_generation": size / gens,
        "plans.resume_read_s": s["plans.resume_read"].seconds,
        "session.shuffle_bytes": unit_tasks["shuffle_bytes"],
        "session.spill_bytes": unit_tasks["spill_bytes"],
        "session.gc_s": unit_tasks["gc_ms"] / 1000.0,
        "session.python_task_s": unit_tasks["python_run_ms"] / 1000.0,
        # the replay covers one generation, so compare one untraced one
        "trace.traced_wall_s": traced,
        "trace.untraced_wall_s": unit_wall / generations,
        "trace.overhead_s": traced - unit_wall / generations,
    }
    return {name: {"value": v[name], "unit": unit} for name, unit in LAYER_METRICS}
