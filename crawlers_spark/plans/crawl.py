"""The generation crawl loop: frontier → schedule → fetch → fan-out.

This is the engine's re-expression of the reference's whole pipeline
shape (SURVEY.md §0): seed scan → paced fetch → flatten → image mirror →
dedup → sink, with cron generations. Serial sleeps become computed
politeness offsets; in-memory dedup lists become the partitioned Bloom +
exact seen-set; the per-seed cursor loop becomes the self-feeding
frontier (discovered links are generation g+1's candidates).

One generation is two methods, shared by the batch loop (``run``) and
the micro-batch stream (streaming/micro_batch.py):

- ``CrawlPlan.step`` runs the fused frontier step over new candidates
  and carried rows, collects the counters, mints priorities for the new
  survivors and folds them into the seen-set;
- ``CrawlPlan.commit`` writes the generation's pages, crawl log, next
  frontier and state, then the manifest.

Determinism under parallelism (north_rule "matching the reference's
crawl ordering"): every URL carries an explicit scalar ``priority``
minted by a deterministic global rank over
``(parent_priority, slot, url_hash)`` — crawl order is the total order
``(generation, priority)``, never partition order.

Checkpoint/resume: each generation ``g`` writes ``gen=<g>/`` under
``checkpoint_dir`` with exactly ``pages``, ``crawl_log``,
``frontier_sched`` (the next generation's scheduled + deferred rows),
``seen_exact`` (the tagged state table: exact seen-set + robots rows,
bucketed on ``host_bucket``) and, when a lifetime quota is set,
``host_spent``; then an atomically-renamed JSON manifest
``manifest_gen=<g>.json`` (generation, next_priority, totals,
frontier_count) commits the generation — the Parquet+manifest stand-in
for Iceberg snapshots (plain Parquet directories, so an Iceberg table
per directory is a drop-in swap). ``CrawlPlan.load`` reads exactly this
set back.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import fnv64
from ..functions.urls import canon_urls
from ..operators.fused_schedule import (
    STATE_COLS,
    fused_filter_schedule,
    quota_state,
    robots_state,
    seen_state,
)
from ..operators.ranking import global_rank, rank_bucket_expr
from ..operators.scheduler import SchedulerConfig
from ..operators.seen_set import BloomParams
from ..sources.fetcher import fetch_scheduled
from ..sources.synthweb import SynthWebConfig, robots_pdf

FRONTIER_COLS = ["url_canon", "url_hash", "host", "host_bucket", "priority"]
# slot packing base for the candidates agg: lexicographic (parent, slot)
# min as one long; requires max_links < MAX_LINK_SLOTS
MAX_LINK_SLOTS = 16
PAGES_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
PAGE_OUT_COLS = [*PAGES_COLS, "generation", "host_bucket", "priority", "url_canon"]
PAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, "
    "phash long, generation int, host_bucket int, priority long, url_canon string"
)
LOG_COLS = ["generation", "priority", "url_canon", "host", "host_bucket", "ok",
            "fetch_offset_ms"]
LOG_SCHEMA = (
    "generation int, priority long, url_canon string, host string, "
    "host_bucket int, ok boolean, fetch_offset_ms long"
)
METRICS_SCHEMA = (
    "generation int, host_bucket int, scheduled long, deduped long, "
    "fetched long, failed long, wall_ms long"
)


@dataclass
class CrawlConfig:
    web: SynthWebConfig = field(default_factory=SynthWebConfig)
    scheduler: SchedulerConfig = field(default_factory=SchedulerConfig)
    # recorded as the manifest's lineage.bloom_buckets only; the loop's
    # seen-set probe is exact (perfbench's workloads still pass bloom=)
    bloom: BloomParams = field(default_factory=lambda: BloomParams.size_for(100_000))
    n_host_buckets: int = 32
    max_generations: int = 50
    checkpoint_dir: str | None = None
    # lifetime per-host quota (key-retirement semantics, reference:
    # daily API budgets /root/reference/youtube/get_youtube_v1.2.py:53-63):
    # each generation's per-host budget is capped at the remaining quota;
    # None disables
    total_budget_per_host: int | None = None
    # bounded requeue of failed fetches: a not-ok row re-enters the next
    # generation (same priority, retry_count+1) until max_retries is
    # exhausted (reference analog: reconnect-and-retry,
    # /root/reference/worldcup/db/connect_mysql.py:21,50)
    max_retries: int = 0


@dataclass
class CrawlResult:
    pages: DataFrame
    metrics: DataFrame
    crawl_log: DataFrame  # every scheduled fetch: (generation, priority, url, ok)
    frontier_final: DataFrame
    seen_exact: DataFrame  # (url_hash, host_bucket) — final seen-set membership
    generations: int
    total_fetched: int
    total_scheduled: int
    wall_s: float


from pyspark.sql.types import LongType, StringType  # noqa: E402


@F.pandas_udf(StringType())
def canon_udf(urls: pd.Series) -> pd.Series:
    return canon_urls(urls)


@F.pandas_udf(LongType())
def hash_udf(strings: pd.Series) -> pd.Series:
    return pd.Series(fnv64(strings))


def canonize(
    df: DataFrame, n_host_buckets: int, url_col: str = "url", keep_host: bool = True
) -> DataFrame:
    """Append url_canon, url_hash, [host,] host_bucket in ONE Arrow pass.

    Chained scalar pandas UDFs (canon → hash → host → bucket) would cost
    four ArrowEvalPython nodes, i.e. four Python round-trips per batch —
    measured ~2.5x slower on the 4M-URL bench. A single ``mapInArrow``
    runs all four kernels on one batch transfer, and the URL strings stay
    in Arrow buffers throughout (pass-through columns are never converted
    to pandas at all).

    ``keep_host=False`` omits the host string from the output (the fused
    step re-derives it bucket-locally) — the host column would otherwise
    ride the candidate exchange for ~20% extra shuffle bytes.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..functions.hashing import pmod_bucket
    from ..functions.urls import canon_arr

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    host_part = "host string, " if keep_host else ""
    schema = f"{fields}, url_canon string, url_hash long, {host_part}host_bucket int"
    in_names = [f.name for f in df.schema.fields]

    def run(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            canon, host = canon_arr(rb.column(in_names.index(url_col)))
            arrays = list(rb.columns)
            names = list(in_names)
            arrays.append(pc.cast(canon, pa.string()))
            names.append("url_canon")
            arrays.append(pa.array(fnv64(canon)))
            names.append("url_hash")
            if keep_host:
                arrays.append(pc.cast(host, pa.string()))
                names.append("host")
            arrays.append(pa.array(pmod_bucket(fnv64(host), n_host_buckets)))
            names.append("host_bucket")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(run, schema=schema)


def prepare_frontier(seeds: DataFrame, n_host_buckets: int) -> DataFrame:
    """Seed rows (url, seed_rank) → canonical frontier, first-rank dedup.

    Reference analog: seed-table scan with in-loop dedup
    (/root/reference/nft/get_opensea_v1.1.py:170-178).
    """
    canon = canonize(seeds, n_host_buckets).withColumn(
        "priority", F.col("seed_rank").cast("long")
    )
    # url_canon/host/host_bucket are functions of url_hash, so including
    # them in the GROUPING KEY keeps the same granularity while the agg
    # buffer stays fixed-width (one long) — codegen'd HashAggregate.
    # (min(struct(strings)) or any_value(string) buffers would silently
    # fall back to SortAggregate.)
    dedup = canon.groupBy("url_hash", "url_canon", "host", "host_bucket").agg(
        F.min("priority").alias("priority")
    )
    return dedup.select("url_hash", "url_canon", "host", "host_bucket", "priority")


def auto_salts(by_bucket: dict[int, int], n_buckets: int, base: int = 1,
               min_total: int = 50_000, trigger_ratio: float = 8.0,
               max_salts: int = 16) -> int:
    """Salt count for the next generation from this generation's
    per-bucket candidate counts: below ``min_total`` rows or below
    ``trigger_ratio``x the mean bucket, stay at ``base``; above, split
    the hot bucket to ~2x the mean (bounded by ``max_salts``)."""
    if not by_bucket:
        return base
    total = sum(by_bucket.values())
    if total < min_total:
        return base
    mean = total / max(1, n_buckets)
    mx = max(by_bucket.values())
    if mx < trigger_ratio * mean:
        return base
    return int(min(max_salts, max(base, round(mx / mean / 2))))


def _split_next(nxt: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Fused-step output -> (scheduled rows, deferred frontier rows).

    Deferred rows keep ``retry_count``: dropping it would hand every
    deferred requeued failure a fresh retry budget."""
    return (
        nxt.filter("status = 'scheduled'"),
        nxt.filter("status = 'deferred'").select(*FRONTIER_COLS, "retry_count"),
    )


def _atomic_write_json(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


@dataclass
class CrawlState:
    """What one generation hands the next. The checkpoint holds the same
    fields (manifest + ``gen=<g>/``), so ``CrawlPlan.load`` rebuilds it
    after a restart."""

    exact: DataFrame  # seen-set (url_hash, host_bucket)
    next_priority: int  # the next priority the rank mint hands out
    totals: dict = field(default_factory=lambda: {"fetched": 0, "scheduled": 0})
    # per-host lifetime spend: a SMALL (host, host_bucket, spent)
    # DataFrame, never a driver dict, so a 10^7-host crawl keeps its
    # quota ledger sharded
    host_spent: DataFrame | None = None
    table: DataFrame | None = None  # bucketed tagged state snapshot of `exact`
    generation: int | None = None  # last committed generation
    n_frontier: int = 0  # rows the step handed on (scheduled+deferred+disallowed)
    salts: int = 1  # unsalted until a generation's counters show skew


class CrawlPlan:
    """Drives the generation loop; supports checkpoint/resume."""

    def __init__(self, spark: SparkSession, cfg: CrawlConfig):
        self.spark = spark
        self.cfg = cfg
        # tagged robots state rows (tag='r'), bucketed like the seen
        # shard and built once: host_bucket is computed in numpy on the
        # driver, so the rows are a LocalRelation that unions into each
        # generation's state side with no job and no Python worker
        self._robots_state = robots_state(spark, robots_pdf(cfg.web), cfg.n_host_buckets)

    def _state_for(
        self, exact: DataFrame | None, host_spent: DataFrame | None
    ) -> DataFrame:
        st = self._robots_state
        if exact is not None:
            st = seen_state(exact).unionByName(st)
        if host_spent is not None:
            st = st.unionByName(quota_state(host_spent, self.cfg.n_host_buckets))
        return st

    # ---------- checkpoint plumbing ----------
    def _ckpt(self, *parts: str) -> str:
        assert self.cfg.checkpoint_dir
        return os.path.join(self.cfg.checkpoint_dir, *parts)

    def _table(self, g: int) -> str:
        digest = hashlib.md5(os.path.abspath(self.cfg.checkpoint_dir).encode()).hexdigest()
        return f"crawl_seen_{digest[:8]}_{g:05d}"

    def latest_manifest(self) -> dict | None:
        if not self.cfg.checkpoint_dir or not os.path.isdir(self.cfg.checkpoint_dir):
            return None
        # not the ".json.tmp" of a manifest still being written
        manifests = sorted(
            f for f in os.listdir(self.cfg.checkpoint_dir)
            if f.startswith("manifest_gen=") and f.endswith(".json")
        )
        if not manifests:
            return None
        with open(self._ckpt(manifests[-1])) as f:
            return json.load(f)

    def load(self) -> tuple[CrawlState, DataFrame] | None:
        """The state and ``frontier_sched`` rows of the latest committed
        generation, or None before the first commit."""
        manifest = self.latest_manifest()
        if manifest is None:
            return None
        spark = self.spark
        d = self._ckpt(f"gen={manifest['generation']:05d}")
        exact = (
            spark.read.parquet(os.path.join(d, "seen_exact"))
            .filter("tag = 's'").select("url_hash", "host_bucket")
        )
        host_spent = None
        if os.path.isdir(os.path.join(d, "host_spent")):
            host_spent = spark.read.parquet(os.path.join(d, "host_spent"))
        st = CrawlState(
            exact=exact, next_priority=manifest["next_priority"],
            totals=dict(manifest["totals"]), host_spent=host_spent,
            generation=manifest["generation"], n_frontier=manifest["frontier_count"],
        )
        return st, spark.read.parquet(os.path.join(d, "frontier_sched"))

    # ---------- main loop ----------
    @contextmanager
    def _session_conf(self):
        # Every exchange in the loop is hand-sized to n_host_buckets (the
        # cogroup, the rank, the checkpoint layout), so (a) the session's
        # generic shuffle width only adds empty reduce tasks, and (b)
        # AQE has nothing to coalesce or split, and its query-stage
        # materialization barrier is pure latency. Scope both confs to the
        # loop and restore on exit; partition count never changes results
        # (whole-registry parallelism-determinism sweep) and results
        # returned lazily in CrawlResult re-plan under the caller's own
        # confs.
        conf = self.spark.conf
        saved = {k: conf.get(k) for k in (
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
        try:
            conf.set("spark.sql.shuffle.partitions",
                     str(self.cfg.n_host_buckets))
            conf.set("spark.sql.adaptive.enabled", "false")
            yield
        finally:
            for k, v in saved.items():
                conf.set(k, v)

    def _bootstrap(self, seeds: DataFrame) -> tuple[CrawlState, DataFrame | None]:
        """Schedule the seed frontier through the same fused step as every
        later generation, with all rows flagged ``is_new = false`` (already
        deduped and in the seen-set): only robots and politeness apply, and
        the lifetime-quota cap (when configured) binds from generation 0."""
        cfg = self.cfg
        frontier = prepare_frontier(seeds, cfg.n_host_buckets).persist()
        first = frontier.agg(
            F.max("priority").alias("p"), F.count("*").alias("n")
        ).first()
        st = CrawlState(
            exact=frontier.select("url_hash", "host_bucket"),
            next_priority=(first["p"] or 0) + 1, n_frontier=first["n"],
        )
        if not st.n_frontier:
            return st, None
        return st, fused_filter_schedule(
            self.spark, frontier.withColumn("is_new", F.lit(False)), None,
            None, cfg.scheduler,
            total_budget_per_host=cfg.total_budget_per_host,
            state=self._robots_state,
            emit_strings="frontier",
        )

    def run(self, seeds: DataFrame, resume: bool = False) -> CrawlResult:
        """fetch → link candidates ∪ deferred ∪ requeue → ``step`` →
        ``commit``, once per generation, from the seeds or (``resume``)
        from the latest manifest."""
        assert self.cfg.web.max_links < MAX_LINK_SLOTS, (
            f"max_links={self.cfg.web.max_links} must stay below "
            f"MAX_LINK_SLOTS={MAX_LINK_SLOTS}: the candidate agg packs "
            "(parent_priority, slot) into one long lexicographically"
        )
        with self._session_conf():
            cfg = self.cfg
            t0 = time.monotonic()
            loaded = self.load() if resume else None
            if loaded is not None:
                st, sched = loaded
                g0 = st.generation + 1
            else:
                g0 = 0
                st, sched = self._bootstrap(seeds)
            st = replace(st, exact=st.exact.localCheckpoint(eager=True))
            scheduled, deferred = _split_next(sched) if sched is not None else (None, None)

            pages_parts: list[DataFrame] = []
            log_parts: list[DataFrame] = []
            gen_stats: dict[int, tuple[dict, int]] = {}
            generations = g0
            for g in range(g0, g0 + cfg.max_generations):
                gen_t0 = time.monotonic()
                if not st.n_frontier or scheduled is None:
                    break
                fetched = fetch_scheduled(
                    scheduled.withColumn("generation", F.lit(g)), cfg.web
                ).persist()
                links = canonize(
                    fetched.select(
                        F.col("priority").alias("parent_priority"),
                        F.posexplode_outer("links").alias("slot", "url"),
                    ).filter(F.col("url").isNotNull()),
                    cfg.n_host_buckets,
                    keep_host=False,  # fused step re-derives host per bucket
                ).withColumn(
                    "priority",
                    (F.col("parent_priority") * MAX_LINK_SLOTS + F.col("slot")).cast("long"),
                )
                carried = deferred
                if cfg.max_retries > 0:
                    # bounded requeue: failed fetches re-enter the next
                    # generation as bypass rows (already in the seen-set),
                    # keeping their minted priority
                    carried = carried.unionByName(fetched.filter(
                        ~F.col("ok") & (F.col("retry_count") < cfg.max_retries)
                    ).select(*FRONTIER_COLS, (F.col("retry_count") + 1).alias("retry_count")))
                if cfg.total_budget_per_host is not None:
                    # charge this generation's scheduled fetches, then expose
                    # the remaining lifetime quota to the next schedule — as a
                    # small aggregated DataFrame, never a driver dict
                    delta = fetched.groupBy("host", "host_bucket").agg(
                        F.count("*").alias("spent")
                    )
                    st = replace(st, host_spent=(
                        delta
                        if st.host_spent is None
                        else st.host_spent.unionByName(delta)
                        .groupBy("host", "host_bucket")
                        .agg(F.sum("spent").alias("spent"))
                    ).localCheckpoint(eager=True))
                # every parent was minted below next_priority, so the packed
                # keys stay below next_priority * MAX_LINK_SLOTS
                nxt, counts, st = self.step(
                    links, carried, st, st.next_priority * MAX_LINK_SLOTS
                )
                gen_stats[g] = (counts, int((time.monotonic() - gen_t0) * 1000))
                pages_g, log_g, nxt, st = self.commit(g, fetched, nxt, st)
                pages_parts.append(pages_g)
                log_parts.append(log_g)
                fetched.unpersist()
                scheduled, deferred = _split_next(nxt)
                generations = g + 1
            return self._result(
                st, pages_parts, log_parts, gen_stats, scheduled, deferred,
                generations, t0,
            )

    def step(
        self, new: DataFrame, carried: DataFrame | None, st: CrawlState, key_hi: int
    ) -> tuple[DataFrame, dict, CrawlState]:
        """The frontier step of one generation: the fused cogroup (dedup +
        exact seen-filter + robots + politeness in ONE heavy exchange,
        operators/fused_schedule.py) over the new candidates and the
        carried rows, one counter collect, then the rank mint for the new
        survivors.

        ``new``: (url_hash, url_canon, host_bucket, priority) rows whose
        ``priority`` is an order key in ``[0, key_hi)`` — the loop's packed
        ``(parent_priority, slot)``, a stream's ``seed_rank``. ``carried``:
        already-minted rows (deferred, requeued) that bypass dedup and the
        seen-set but compete for politeness budget first. The cogroup ranks
        each host by ``(is_new, priority, url_hash)``, the order the minted
        priorities will have, so crawl order and the seen-set match the
        serial oracle. Returns ``nxt`` (scheduled + deferred rows, minted),
        the ``(host_bucket, status)`` counters and the advanced state."""
        spark, cfg = self.spark, self.cfg
        next_statuses = ("scheduled", "deferred", "disallowed")
        cand = new.select(
            "url_hash", "url_canon", "host_bucket", "priority",
            F.lit(True).alias("is_new"), F.lit(0).alias("retry_count"),
        )
        if carried is not None:
            cand = cand.unionByName(carried.select(
                "url_hash", "url_canon", "host_bucket", "priority",
                F.lit(False).alias("is_new"), "retry_count",
            ))
        state = (
            st.table
            if st.table is not None and cfg.total_budget_per_host is None
            else self._state_for(st.exact, st.host_spent)
        )
        # emit_strings="frontier": dup/seen/disallowed rows come back
        # hash-only — they are only counted or folded into the seen-set
        # by url_hash, so the dropped majority's string bytes never ride
        # the worker→JVM hop.
        # lazy localCheckpoint: the counter collect right below is the
        # FIRST action on fused_out and scans every partition, so it both
        # materializes the checkpoint and cuts the lineage in the same
        # job — one fewer driver job per generation than an eager cut
        # followed by the collect
        fused_out = fused_filter_schedule(
            spark, cand, None, None, cfg.scheduler, emit_dropped=True,
            total_budget_per_host=cfg.total_budget_per_host,
            n_salts=st.salts,
            state=state,
            emit_strings="frontier",
        ).localCheckpoint(eager=False)

        # One small agg over the fused output drives every counter (and
        # materializes the fetch and fused_out). Fetch ok/failed per bucket
        # is NOT collected here: crawl_log is 1:1 with scheduled rows, so
        # a single end-of-run agg over the logs recovers (scheduled,
        # fetched, failed) for every (generation, bucket). The SAME agg
        # also carries global_rank's per-bucket counts (grouped by the
        # ranker's own bucket expression), so the mint below runs with
        # zero internal jobs — one collect per step drives counters,
        # auto-salt AND the rank offsets.
        rank_bounds = (0, key_hi)
        counts: dict[tuple[int, str], int] = {}
        rank_counts: dict[int, int] = {}
        for r in (
            fused_out.groupBy(
                "host_bucket", "status", "is_new",
                rank_bucket_expr(
                    "priority", cfg.n_host_buckets, rank_bounds
                ).alias("__b"),
            )
            .agg(F.count("*").alias("n")).collect()
        ):
            k = (r["host_bucket"], r["status"])
            counts[k] = counts.get(k, 0) + r["n"]
            if r["is_new"] and r["status"] in next_statuses:
                rank_counts[r["__b"]] = rank_counts.get(r["__b"], 0) + r["n"]

        new_rows = fused_out.filter(
            F.col("is_new") & F.col("status").isin(*next_statuses)
        )
        # the key range is known without sampling, so global_rank takes
        # the cheaper bucket-offset JVM path (no Python worker), and with
        # the counts pre-folded into the agg above it runs ZERO jobs of
        # its own: lazy localCheckpoint defers the materialization (and
        # the lineage cut) to the next action that consumes new_ranked
        new_ranked, n_new = global_rank(
            new_rows, ["priority", "url_hash"], "__minted",
            start=st.next_priority, with_count=True,
            num_partitions=cfg.n_host_buckets,
            bounds=rank_bounds, bucket_counts=rank_counts,
        )
        new_ranked = new_ranked.localCheckpoint(eager=False)
        new_ranked = new_ranked.withColumn("priority", F.col("__minted")).drop("__minted")
        exact = st.exact
        if n_new:
            exact = exact.unionByName(
                new_ranked.select("url_hash", "host_bucket")
            ).localCheckpoint(eager=False)

        nxt = fused_out.filter(
            ~F.col("is_new") & F.col("status").isin("scheduled", "deferred")
        ).unionByName(
            new_ranked.filter(F.col("status").isin("scheduled", "deferred"))
        )
        # salting never changes results (two-phase exact top-k), only
        # the physical task bound, so raising it from the counters this
        # step already collected is always safe
        by_bucket: dict[int, int] = {}
        for (b, _s), v in counts.items():
            by_bucket[b] = by_bucket.get(b, 0) + v
        return nxt, counts, replace(
            st, exact=exact, table=None, next_priority=st.next_priority + n_new,
            n_frontier=sum(v for (_b, s), v in counts.items() if s in next_statuses),
            salts=auto_salts(by_bucket, cfg.n_host_buckets),
        )

    def commit(
        self, g: int, fetched: DataFrame, nxt: DataFrame, st: CrawlState
    ) -> tuple[DataFrame, DataFrame, DataFrame, CrawlState]:
        """Persist generation ``g``: its fetch results, the next frontier
        ``nxt`` and the state. Returns (pages, crawl_log, nxt, state), each
        re-read from what was written.

        With ``checkpoint_dir`` this writes ``gen=<g>/`` and then the
        manifest, which commits the generation; without it, one eager
        ``localCheckpoint`` of the fetch's output columns (no manifest)."""
        spark, cfg = self.spark, self.cfg
        if not cfg.checkpoint_dir:
            # eager localCheckpoint holds only the output columns, so the
            # full fetched frame (links arrays + working columns) can be
            # released — executor storage stays flat at output size instead
            # of growing by one fetch cache per generation. ONE combined
            # checkpoint (not one each for pages/log) saves a
            # driver-latency job per generation; pages/log are lazy
            # projections of it.
            combined = fetched.select(
                *PAGES_COLS, "generation", "host_bucket", "priority",
                "url_canon", "host", "ok", "fetch_offset_ms",
            ).localCheckpoint(eager=True)
            return (
                combined.filter("ok").select(*PAGE_OUT_COLS),
                combined.select(*LOG_COLS), nxt, replace(st, generation=g),
            )

        fm = fetched.groupBy("ok").agg(F.count("*").alias("n")).collect()
        totals = {
            "scheduled": st.totals["scheduled"] + sum(r["n"] for r in fm),
            "fetched": st.totals["fetched"] + sum(r["n"] for r in fm if r["ok"]),
        }
        dgen = self._ckpt(f"gen={g:05d}")

        def write(df: DataFrame, name: str) -> DataFrame:
            df.write.mode("overwrite").parquet(os.path.join(dgen, name))
            return spark.read.parquet(os.path.join(dgen, name))

        pages = write(fetched.filter("ok").select(*PAGE_OUT_COLS), "pages")
        log = write(fetched.select(*LOG_COLS), "crawl_log")
        nxt = write(nxt, "frontier_sched")
        # snapshot the TAGGED STATE (seen rows + robots dimension + quota
        # spend) as ONE bucketed external table on host_bucket: the next
        # generation's cogroup then reads its whole state side co-located
        # and elides that exchange entirely (plan-asserted in
        # tests/test_plan_quality.py; elision requires n_host_buckets ==
        # spark.sql.shuffle.partitions, else Spark re-shuffles one side
        # to align) — at 10^10 seen rows that exchange dominates the loop.
        # A union of separate seen/robots tables would NOT preserve the
        # partitioning, which is why the dimension rows live in the same
        # table. The files stay plain parquet under the checkpoint dir
        # (resume via spark.read.parquet + tag filter still works;
        # bucketing metadata lives in the catalog entry only).
        tbl = self._table(g)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            self._state_for(st.exact, st.host_spent)
            .write.mode("overwrite").format("parquet")
            .bucketBy(cfg.n_host_buckets, "host_bucket")
            .sortBy("url_hash")
            .option("path", os.path.join(dgen, "seen_exact"))
            .saveAsTable(tbl)
        )
        if st.generation is not None and st.generation != g:
            # the catalog entry only; the files are the previous checkpoint
            spark.sql(f"DROP TABLE IF EXISTS {self._table(st.generation)}")
        host_spent = st.host_spent
        if host_spent is not None:
            host_spent = write(host_spent, "host_spent")
        _atomic_write_json(
            self._ckpt(f"manifest_gen={g:05d}.json"),
            {
                "generation": g,
                "next_priority": st.next_priority,
                "totals": totals,
                "frontier_count": st.n_frontier,
                "lineage": {"host_buckets": cfg.n_host_buckets,
                            "bloom_buckets": cfg.bloom.n_buckets},
            },
        )
        return pages, log, nxt, replace(
            st, totals=totals, host_spent=host_spent, generation=g,
            table=spark.table(tbl).select(*STATE_COLS),
            exact=spark.table(tbl).filter("tag = 's'").select("url_hash", "host_bucket"),
        )

    def _result(
        self, st: CrawlState, pages_parts: list[DataFrame], log_parts: list[DataFrame],
        gen_stats: dict[int, tuple[dict, int]], scheduled: DataFrame | None,
        deferred: DataFrame | None, generations: int, t0: float,
    ) -> CrawlResult:
        spark = self.spark
        pages = spark.createDataFrame([], schema=PAGES_SCHEMA)
        for p in pages_parts:
            pages = pages.unionByName(p)
        crawl_log = spark.createDataFrame([], schema=LOG_SCHEMA)
        for p in log_parts:
            crawl_log = crawl_log.unionByName(p)

        # one end-of-run agg over the logs recovers per-(generation,
        # bucket) scheduled/fetched/failed for every generation at once
        # (crawl_log is 1:1 with scheduled rows)
        totals = dict(st.totals)
        metrics_rows: list[tuple] = []
        if gen_stats:
            fl = crawl_log.groupBy("generation", "host_bucket", "ok").agg(
                F.count("*").alias("n")
            ).collect()
            ok_n = {(r["generation"], r["host_bucket"]): r["n"] for r in fl if r["ok"]}
            fail_n = {(r["generation"], r["host_bucket"]): r["n"] for r in fl if not r["ok"]}
            for g, (counts, wall_ms) in sorted(gen_stats.items()):
                buckets = (
                    {b for b, _s in counts}
                    | {b for gg, b in ok_n if gg == g}
                    | {b for gg, b in fail_n if gg == g}
                )
                for b in sorted(buckets):
                    metrics_rows.append((
                        g, b,
                        ok_n.get((g, b), 0) + fail_n.get((g, b), 0),
                        counts.get((b, "dup"), 0) + counts.get((b, "seen"), 0),
                        ok_n.get((g, b), 0), fail_n.get((g, b), 0), wall_ms,
                    ))
            if not self.cfg.checkpoint_dir:  # checkpoint mode accumulates per gen
                totals["scheduled"] += sum(ok_n.values()) + sum(fail_n.values())
                totals["fetched"] += sum(ok_n.values())
        metrics = spark.createDataFrame(metrics_rows, schema=METRICS_SCHEMA)
        if scheduled is not None and deferred is not None:
            frontier_final = scheduled.select(*FRONTIER_COLS).unionByName(
                deferred.select(*FRONTIER_COLS)
            )
        else:
            frontier_final = spark.createDataFrame(
                [], schema="url_canon string, url_hash long, host string, "
                "host_bucket int, priority long",
            ).select(*FRONTIER_COLS)
        return CrawlResult(
            pages=pages,
            metrics=metrics,
            crawl_log=crawl_log,
            seen_exact=st.exact,
            frontier_final=frontier_final,
            generations=generations,
            total_fetched=totals["fetched"],
            total_scheduled=totals["scheduled"],
            wall_s=time.monotonic() - t0,
        )
