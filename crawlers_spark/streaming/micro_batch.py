"""Structured Streaming surface: the reference's cron generations as
micro-batches.

The reference re-crawls on wall-clock triggers — hourly/daily APScheduler
jobs (/root/reference/nft_go/get_nftgo1.1.py:398-410,
/root/reference/nft/get_opensea_v1.1.py:303-314) and 3-minute loops
(/root/reference/worldcup/applications.py:167-172) — with state (seen
lists, token caches) carried across runs in process memory. Spark-first,
that is Structured Streaming:

* ``stream_events_daily`` — tumbling-day windowed aggregation with a
  watermark over a parquet file stream (the reference's day-window fetch
  bounds, /root/reference/youtube/get_youtube_v1.2.py:144-145, plus its
  late-data tolerance: re-crawl keeps updating until "end",
  /root/reference/worldcup/applications.py:39-40).
* ``stream_crawl`` — ``foreachBatch`` crawl: each arriving seed-batch
  file becomes one generation of the batch engine's own ``CrawlPlan``
  (``step`` + ``commit``, plans/crawl.py), which writes a ``CrawlPlan``
  checkpoint directory. The seen-set, the budget-deferred frontier and,
  with ``total_budget_per_host``, each host's lifetime quota spend (the
  reference's API-key budgets that persist across cron runs,
  youtube/get_youtube_v1.2.py:53-63) are carried in that checkpoint,
  not in driver memory: every batch resumes from the latest manifest,
  and a replayed batch whose
  generation is already committed is skipped, so pages are written once
  (the idempotent-upsert analog of the reference's
  worldcup/db/deal_mysql_info.py:44-57).

At cluster scale the same code runs with ``trigger(processingTime=...)``
against a landing bucket; tests use ``availableNow`` for determinism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.crawl import CrawlConfig, CrawlPlan, CrawlState, canonize
from ..sources.fetcher import fetch_scheduled
from ..sources.synthweb import SynthWebConfig

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events_daily(
    spark: SparkSession, events_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """Streaming tumbling-day aggregation with a 1-day watermark.

    Returns an unstarted streaming DataFrame; callers attach a sink
    (``writeStream``). Late rows beyond the watermark are dropped —
    the engine's principled version of the reference's "keep updating
    until end_status" loop.
    """
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", glob)
        .parquet(events_dir)
    )
    return (
        src.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.date_format("win.start", "yyyy-MM-dd").alias("day"),
            "event_type", "n", "sum_value",
        )
    )


def stream_event_sessions(
    spark: SparkSession,
    events_dir: str,
    glob: str = "events.parquet",
    gap: str = "30 minutes",
) -> DataFrame:
    """Streaming sessionization via NATIVE session windows
    (``F.session_window``): an event joins its user's open session when
    it lands strictly inside last_ts + gap; otherwise a new session
    opens. The state store merges overlapping windows per (user,
    session) — the built-in replacement for a custom
    applyInPandasWithState sessionizer, with watermark-driven state
    eviction for free (the custom operator would have to age out its
    own state). Batch equivalence: a break at gap >= 30 min matches the
    window's half-open [start, last+gap) semantics."""
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", glob)
        .parquet(events_dir)
    )
    return (
        src.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


def stream_view_purchase_join(
    spark: SparkSession,
    events_dir: str,
    glob: str = "events.parquet",
    horizon: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join — the §2.8 surface where BOTH sides
    are unbounded: each view pairs with the same user's purchases
    landing within ``horizon`` after it. Watermarks on both sides plus
    the time-range predicate are what let the state store evict: a view
    can stop waiting once the purchase-side watermark passes view.ts +
    horizon, so state is bounded by (rate x horizon), not by history.
    Output timestamps in the formatted string lane."""

    def src(tag: str) -> DataFrame:
        s = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", glob)
            .parquet(events_dir)
        )
        return s.select(
            F.col("user_id").alias(f"{tag}_user"),
            F.col("ts").alias(f"{tag}_ts"),
            F.col("event_type").alias(f"{tag}_type"),
        ).withWatermark(f"{tag}_ts", "1 day")

    v = src("v").filter(F.col("v_type") == "view")
    p = src("p").filter(F.col("p_type") == "purchase")
    joined = v.join(
        p,
        F.expr(
            f"v_user = p_user AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL {horizon}"
        ),
    )
    return joined.select(
        F.col("v_user").alias("user_id"),
        F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("t_view"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("t_purchase"),
    )


def stream_crawl(
    spark: SparkSession,
    seeds_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    web: SynthWebConfig | None = None,
    n_host_buckets: int = 8,
    trigger: dict | None = None,
    total_budget_per_host: int | None = None,
):
    """Micro-batch crawl: each seed parquet file that lands in
    ``seeds_dir`` is one generation (``maxFilesPerTrigger`` = 1), run
    through ``CrawlPlan.step`` and ``CrawlPlan.commit``. Returns
    (query, plan).

    Seed schema: (url string, seed_rank long). Each batch's seeds are new
    candidates ordered by seed_rank, next to the rows earlier batches
    deferred for politeness budget, which compete first (``is_new =
    false``, exactly as in the batch loop) — a URL marked seen is never
    dropped unfetched. There is no link fan-out: a batch fetches what
    its step schedules. ``total_budget_per_host`` is the batch loop's
    lifetime per-host quota (``CrawlConfig.total_budget_per_host``): the
    spend rides the checkpointed state table, so it holds across
    batches and restarts.

    ``out_dir`` is the plan's checkpoint directory: batch ``b`` commits
    generation ``b`` as ``gen=<b>/`` (pages, crawl_log, frontier_sched =
    the deferred rows, seen_exact) plus ``manifest_gen=<b>.json``. Every
    batch reads its state from the latest manifest (``CrawlPlan.load``,
    the bucketed state table, so only the seeds shuffle), so a restarted
    stream resumes exactly where the last committed batch left off, and
    a batch whose manifest already exists (``foreachBatch`` replays the
    last uncommitted batch after a crash) is skipped instead of written
    twice. A batch plans in the stream's own session, under the loop's
    shuffle width and AQE confs. ``checkpoint_dir`` is Spark's own
    stream checkpoint.

    ``trigger`` passes through to ``writeStream.trigger`` — default
    ``{"availableNow": True}`` (drain-and-stop, deterministic tests);
    a long-lived deployment passes ``{"processingTime": "..."}`` and the
    query keeps polling ``seeds_dir`` for newly landed seed files.
    """
    plan = CrawlPlan(spark, CrawlConfig(
        web=web or SynthWebConfig(), n_host_buckets=n_host_buckets,
        checkpoint_dir=out_dir, total_budget_per_host=total_budget_per_host,
    ))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(os.path.join(out_dir, f"manifest_gen={batch_id:05d}.json")):
            return  # a replayed batch: its generation is already committed
        b = batch_df.agg(F.max("seed_rank").alias("hi"), F.count("*").alias("n")).first()
        if not b["n"]:
            return
        with plan._session_conf(batch_df.sparkSession):
            st, deferred = plan.load() or (CrawlState(state=plan.robots, next_priority=0), None)
            new = canonize(batch_df, n_host_buckets, keep_host=False).withColumn(
                "priority", F.col("seed_rank").cast("long")
            )
            nxt, _counts, st = plan.step(new, deferred, st, b["hi"] + 1)
            fetched = fetch_scheduled(
                nxt.filter("status = 'scheduled'").withColumn("generation", F.lit(batch_id)),
                plan.cfg.web,
            ).persist()
            plan.commit(batch_id, fetched, nxt.filter("status = 'deferred'"), st)
            fetched.unpersist()

    query = (
        spark.readStream.schema("url string, seed_rank long")
        .option("maxFilesPerTrigger", 1)
        .parquet(seeds_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
    return query, plan


def stream_dedup_exact(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Stateful streaming exact dedup: emit each document fingerprint the
    FIRST time it is ever seen, across micro-batches and restarts.

    The streaming twin of operators/dedup.dedup_exact for a corpus that
    arrives continuously (the training-pipeline shape: crawled documents
    land in batches; downstream wants only first-seen content). State is
    keyed BY FINGERPRINT — one tiny state row per distinct fingerprint —
    so the state store only touches the keys present in the current
    micro-batch: per-batch update cost is O(batch), never O(|state|).
    (An earlier layout kept one sorted fingerprint array per hash bucket;
    that serialized the ENTIRE bucket state on every batch — O(|state|)
    per micro-batch — and could never survive 10^9+ fingerprints. A
    per-key layout is what HDFS/RocksDB state stores are built to delta:
    numRowsUpdated == fresh fingerprints in the batch, asserted in
    tests/test_streaming.py.)
    Within a batch, ties keep the min doc_id (deterministic at any
    partitioning — same keep rule as dedup_exact; this is why the
    built-in streaming ``dropDuplicates`` is not used: it keeps an
    arbitrary first arrival on in-batch ties).

    Scale: state rows grow with distinct fingerprints, which is what
    exact streaming dedup costs — back the store with RocksDB
    (``spark.sql.streaming.stateStore.providerClass``) so per-executor
    memory stays bounded; the batch engine's Bloom+exact rescue remains
    the cheaper path when the corpus can be re-read. Reference analog:
    the in-memory `repeat_list` dedup carried across cron runs
    (/root/reference/nft/get_opensea_v1.1.py:61-66) — here the state
    survives process death via the checkpoint instead of being lost.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import normalize_text

    src = spark.readStream.schema("doc_id long, text string").parquet(docs_dir)
    fp = src.select(
        "doc_id",
        F.xxhash64(normalize_text(F.col("text"))).alias("fingerprint"),
    )

    def dedup(key, pdfs, state: GroupState):
        if state.exists:
            return  # fingerprint already emitted in an earlier batch
        best = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                best = m if best is None else min(best, m)
        if best is None:
            return
        state.update((True,))
        yield pd.DataFrame({"doc_id": [best], "fingerprint": [key[0]]})

    out = fp.groupBy("fingerprint").applyInPandasWithState(
        dedup,
        outputStructType="doc_id long, fingerprint long",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_heavy_hitters(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming count-min sketch: maintain the 4x1024 int64 CMS grid
    (operators/sketches.py) over a document stream, state keyed by
    (lane, bucket) cell.

    This is the FIXED-SIZE-state streaming shape — the grid never grows
    past depth*width rows no matter how many distinct words arrive
    (contrast stream_dedup_exact, whose state is one row per distinct
    key because exact dedup inherently costs that). Per-batch update
    cost is O(min(batch cells, grid)); each batch emits the updated
    cells, so the reader reconstructs the current grid as max(count)
    per cell (counts are monotone) and answers point-frequency queries
    with the same min-over-lanes lookup as the batch sketch. Restarts
    resume from checkpointed state — counts continue, never reset.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.sketches import CMS_D, CMS_W, cms_buckets

    src = spark.readStream.schema("doc_id long, text string").parquet(docs_dir)
    norm = F.trim(F.regexp_replace("text", r"\s+", " "))
    words = src.filter(F.length(norm) > 0).select(
        F.explode(F.split(norm, " ")).alias("word")
    )
    cells = words.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("lane"),
                    F.expr(cms_buckets("word", k, CMS_W)).alias("bucket"),
                )
                for k in range(CMS_D)
            ])
        ).alias("lb")
    ).select(F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("bucket"))

    def add(key, pdfs, state: GroupState):
        n = sum(len(p) for p in pdfs)
        if n == 0:
            return
        prev = state.get[0] if state.exists else 0
        total = prev + n
        state.update((total,))
        yield pd.DataFrame(
            {"lane": [key[0]], "bucket": [key[1]], "count": [total]}
        )

    out = cells.groupBy("lane", "bucket").applyInPandasWithState(
        add,
        outputStructType="lane int, bucket bigint, count bigint",
        stateStructType="count bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_circuit_breaker(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Streaming per-host error circuit breaker — the stateful twin of
    queries.q_error_circuit_breaker (open on a bad day, half-open
    probation the day after, closed otherwise; bad = error rate >= 0.5,
    integer cross-multiplied).

    State per host is ONE int (yesterday's badness) — the minimal-state
    streaming shape (contrast stream_dedup_exact's inherently growing
    key set): O(1) state per host forever, O(batch) update cost.
    Batches are expected to arrive in day order with whole days per
    batch (the fetch-ops rollup cadence); days inside a batch are
    processed in sorted order, so feeding the same whole-day batches
    reproduces the batch query's states exactly (equivalence-tested),
    and a restart resumes probation from checkpointed state — a bad day
    before the crash still forces half-open after it.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        ).parquet(events_dir)
    )
    d = src.select(
        F.col("user_id").alias("host_id"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.col("event_type") == "error").cast("long").alias("is_err"),
    )

    def step(key, pdfs, state: GroupState):
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames)
        prev_bad = int(state.get[0]) if state.exists else 0
        g = (
            pdf.groupby("day", sort=True)
            .agg(n_events=("is_err", "size"), n_errors=("is_err", "sum"))
            .reset_index()
        )
        states = []
        for _, r in g.iterrows():
            bad = int(2 * int(r.n_errors) >= int(r.n_events))
            states.append(
                "open" if bad else ("half_open" if prev_bad else "closed")
            )
            prev_bad = bad
        state.update((prev_bad,))
        yield pd.DataFrame(
            {
                "host_id": key[0],
                "day": g["day"],
                "n_events": g["n_events"].astype("int64"),
                "n_errors": g["n_errors"].astype("int64"),
                "state": states,
            }
        )

    out = d.groupBy("host_id").applyInPandasWithState(
        step,
        outputStructType=(
            "host_id long, day string, n_events bigint,"
            " n_errors bigint, state string"
        ),
        stateStructType="prev_bad int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_rate_shaper(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    t_us: int = 1_000_000,
):
    """Streaming GCRA/token-bucket rate shaper — the stateful twin of
    queries.q_rate_shaper_delay's window closed form: per host the
    ENTIRE shaper state is one int64 (the virtual finish V of the last
    admitted request; V_new = max(a, V_prev) + T, delay = max(0,
    V_prev − a)) — the O(1)-per-host-forever streaming shape
    (contrast stream_dedup_exact's growing key set), O(batch) update
    cost. Batches are expected in arrival order (the fetch-log
    cadence, same contract as stream_circuit_breaker); arrivals
    inside a batch are processed in (a_us, event_id) order, so whole
    ordered batches reproduce the batch window formula exactly
    (equivalence-tested) and a restart resumes the bucket level from
    checkpointed state — a pre-crash burst still delays the first
    post-crash request. Reference analog: the per-site sleep pacing
    inside the serial collection loops
    (/root/reference/coinmarketcap/coin_market_cap_api_2.0.py:214),
    here as exact virtual time instead of wall-clock sleeps."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long"
    ).parquet(events_dir)
    d = src.select(
        (F.col("user_id") % 10).alias("host"),
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, timestamp'2024-01-01', ts)"
        ).cast("long").alias("a_us"),
    )

    def step(key, pdfs, state: GroupState):
        frames = [p for p in pdfs if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames).sort_values(["a_us", "event_id"])
        v = int(state.get[0]) if state.exists else None
        delays = []
        for a in pdf["a_us"].astype("int64"):
            a = int(a)
            delays.append(0 if v is None else max(0, v - a))
            v = (a if v is None else max(a, v)) + t_us
        state.update((v,))
        yield pd.DataFrame(
            {
                "host": key[0],
                "event_id": pdf["event_id"].astype("int64"),
                "a_us": pdf["a_us"].astype("int64"),
                "delay_us": pd.Series(delays, index=pdf.index, dtype="int64"),
            }
        )

    out = d.groupBy("host").applyInPandasWithState(
        step,
        outputStructType=(
            "host long, event_id long, a_us long, delay_us long"
        ),
        stateStructType="v_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
