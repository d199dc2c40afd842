"""Fused bucket-local frontier step: dedup + seen-filter + politeness
schedule in ONE exchange.

This is the crawl engine's only frontier step (``CrawlPlan.step`` in
plans/crawl.py runs it once per generation, for the batch loop and for
each micro-batch of streaming/micro_batch.py).
Expressed as Catalyst operators it would be a dedup
``groupBy(url_hash)``, a seen-set ``left_anti`` join and ranking
windows — one shuffle of the candidate set each. But every one of those
operators keys on something that is constant within a ``host_bucket``:
spellings of the same URL share a host (canonicalization fixes the
spelling, not the site), the seen-set shard is per-bucket, and the
politeness top-k partitions by host. So the whole step runs
bucket-locally:

    candidates ──exchange(host_bucket)──┐
                                        ├─ cogroup.applyInArrow ──> rows
    state (seen ∪ robots ∪ quota rows,  ┘   (numpy + Arrow kernels)
           pre-bucketed / bucketed table)

with per-bucket work all vectorized numpy/pyarrow.compute: sort-dedup
keeping min priority, exact-seen membership via ``searchsorted`` on the
cogrouped shard (an optional broadcast Bloom blob pre-filters the probe
set), robots disallow prefixes, per-host priority rank -> budget cut +
crawl-delay offsets.

The state side is ONE tagged table: ``tag='s'`` rows are the exact
seen-set shard, ``tag='r'`` rows the per-host robots dimension
(crawl_delay_ms, max_per_generation, disallow_prefixes), ``tag='q'``
rows the per-host lifetime-quota spend. Robots and quota therefore ride
the same hash-bucketed layout as the seen shard — nothing per-host is
ever materialized on the driver or broadcast as a Python dict, so a
10^7-10^8-host robots cache stays sharded exactly like the 10^10-row
seen-set (north_star: "robots.txt cache broadcast-joined" scaled past
broadcast size by co-partitioning).

Mixed input: rows flagged ``is_new = false`` are already-minted frontier
rows (deferred from earlier generations) that bypass dedup + seen-filter
but compete in the politeness ranking. Their minted priorities are always
smaller than any future priority, so ranking by ``(is_new, priority,
url_hash)`` — where new rows carry the packed ``(parent_priority, slot)``
discovery key as ``priority`` — produces exactly the per-host order of
the priorities minted afterwards (rank minting is monotone in that key;
see plans/crawl.py).

Skew: a mega-host (the reference's world is literally one-site-per-
crawler, SURVEY.md §4.2) concentrates its candidates in ONE bucket, and
AQE skew-splitting does NOT apply to cogroup exchanges — so the escape
hatch is explicit: ``n_salts > 1`` salts the cogroup key with
``pmod(url_hash, n_salts)``. Dedup and seen-membership stay exact within
a salt (same url_hash → same salt; the exact shard salts the same way),
and politeness becomes the standard two-phase exact top-k: phase 1 cuts
each (host, salt) slice to its budget (any row outside its slice's
top-budget cannot be in the host's global top-budget — pigeonhole), so
phase 2 ranks ≤ n_salts·budget survivors per host in a second, tiny
exchange. Statuses, scheduled ranks, and offsets are bit-identical to
the unsalted step (equivalence-tested); only the ``host_rank`` of
DEFERRED rows is not globally meaningful under salting (phase-1-deferred
rows report 0) — no consumer reads it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import fnv64, pmod_bucket
from ..functions.urls import _HOST_RE_PA
from .scheduler import SchedulerConfig
from .seen_set import BloomParams, bloom_build_blob, bloom_test_blob

import pyarrow as pa
import pyarrow.compute as pc

OUT_COLS = ["url_hash", "url_canon", "host", "host_bucket", "priority",
            "is_new", "retry_count", "status", "host_rank", "fetch_offset_ms"]
OUT_SCHEMA = (
    "url_hash long, url_canon string, host string, host_bucket int, priority long, "
    "is_new boolean, retry_count int, status string, host_rank int, fetch_offset_ms long"
)
# phase-1 output under salting carries the per-host politeness params so
# phase 2 never needs a second robots lookup
P1_SCHEMA = OUT_SCHEMA + ", crawl_delay_ms long, budget_eff long"

STATE_COLS = ["tag", "url_hash", "host", "crawl_delay_ms", "max_per_generation",
              "disallow_prefixes", "spent", "host_bucket"]


def host_bucket_col(n_host_buckets: int):
    """pandas UDF: host string -> engine host bucket (fnv64 pmod)."""

    @F.pandas_udf("int")
    def bucket(host: pd.Series) -> pd.Series:
        return pd.Series(pmod_bucket(fnv64(host), n_host_buckets), index=host.index)

    return bucket


def robots_state(
    spark: SparkSession, robots: pd.DataFrame | DataFrame, n_host_buckets: int
) -> DataFrame:
    """Per-host robots dimension -> tagged state rows (tag='r').

    Accepts the driver-side pandas robots cache (CrawlPlan, tests, bench)
    or a Spark DataFrame of any size; either way the result is
    hash-bucketed on the same ``host_bucket`` layout as the seen shard, so
    the fused cogroup reads it co-partitioned — never broadcast, never
    collected.
    """
    if isinstance(robots, pd.DataFrame):
        rp = robots.copy()
        rp["host_bucket"] = pmod_bucket(fnv64(rp["host"]), n_host_buckets)
        sdf = spark.createDataFrame(rp)
    else:
        sdf = robots
        if "host_bucket" not in sdf.columns:
            sdf = sdf.withColumn(
                "host_bucket", host_bucket_col(n_host_buckets)(F.col("host"))
            )
    # url_hash uses a 0 sentinel, NOT null: a nullable long column turns
    # into float64 on the Arrow->pandas hop inside the cogroup, silently
    # rounding real 64-bit hashes past 2^53
    return sdf.select(
        F.lit("r").alias("tag"),
        F.lit(0).cast("long").alias("url_hash"),
        F.col("host"),
        F.col("crawl_delay_ms").cast("long"),
        F.col("max_per_generation").cast("long"),
        F.col("disallow_prefixes").cast("array<string>"),
        F.lit(None).cast("long").alias("spent"),
        F.col("host_bucket").cast("int"),
    )


def quota_state(host_spent: DataFrame, n_host_buckets: int) -> DataFrame:
    """Per-host lifetime spend (host, spent) -> tagged state rows (tag='q')."""
    sdf = host_spent
    if "host_bucket" not in sdf.columns:
        sdf = sdf.withColumn(
            "host_bucket", host_bucket_col(n_host_buckets)(F.col("host"))
        )
    return sdf.select(
        F.lit("q").alias("tag"),
        F.lit(0).cast("long").alias("url_hash"),
        F.col("host"),
        F.lit(None).cast("long").alias("crawl_delay_ms"),
        F.lit(None).cast("long").alias("max_per_generation"),
        F.lit(None).cast("array<string>").alias("disallow_prefixes"),
        F.col("spent").cast("long"),
        F.col("host_bucket").cast("int"),
    )


def seen_state(exact: DataFrame) -> DataFrame:
    """Exact seen shard (url_hash, host_bucket) -> tagged state rows (tag='s')."""
    return exact.select(
        F.lit("s").alias("tag"),
        F.col("url_hash").cast("long"),
        F.lit(None).cast("string").alias("host"),
        F.lit(None).cast("long").alias("crawl_delay_ms"),
        F.lit(None).cast("long").alias("max_per_generation"),
        F.lit(None).cast("array<string>").alias("disallow_prefixes"),
        F.lit(None).cast("long").alias("spent"),
        F.col("host_bucket").cast("int"),
    )


def build_host_bucket_blobs(
    seen: DataFrame, params: BloomParams, hash_col: str = "url_hash"
) -> dict[int, bytes]:
    """One Bloom blob per host_bucket from a (url_hash, host_bucket) table."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = bloom_build_blob(pdf[hash_col].to_numpy(np.int64), params)
        return pd.DataFrame(
            {"host_bucket": [int(pdf["host_bucket"].iloc[0])], "filter": [blob]}
        )

    rows = (
        seen.select(hash_col, "host_bucket")
        .groupBy("host_bucket")
        .applyInPandas(build, schema="host_bucket int, filter binary")
        .collect()
    )
    return {r["host_bucket"]: bytes(r["filter"]) for r in rows}


def fused_filter_schedule(
    spark: SparkSession,
    candidates: DataFrame,
    exact: DataFrame | None,
    robots: pd.DataFrame | DataFrame | None,
    cfg: SchedulerConfig = SchedulerConfig(),
    blobs: dict[int, bytes] | None = None,
    params: BloomParams | None = None,
    emit_dropped: bool = False,
    host_spent: DataFrame | None = None,
    total_budget_per_host: int | None = None,
    n_host_buckets: int | None = None,
    n_salts: int = 1,
    state: DataFrame | None = None,
    emit_strings: str = "all",
) -> DataFrame:
    """candidates (url_hash,url_canon,host,host_bucket,priority[,is_new]) ×
    state (seen ∪ robots ∪ quota) → rows with status ∈
    scheduled|deferred|disallowed (+ dup|seen when ``emit_dropped``).

    Membership is exact: every new candidate is probed against the
    cogrouped exact shard via ``searchsorted``; a Bloom blob dict (when
    given) only pre-filters the probe set. ``is_new = false`` rows skip
    dedup + membership (they ARE in the seen-set) but keep their claim on
    politeness budget. Surviving new rows (any status but dup/seen) are
    exactly the next seen-set delta.

    The ``host`` column is optional: when absent it is re-derived
    bucket-locally from ``url_canon`` (the identical ``url_host`` kernel
    that produced ``host_bucket``), trading ~20% of the candidate
    exchange's bytes — a host string per row — for a short per-bucket
    regex pass that scales with cores instead of shuffle bandwidth.

    ``total_budget_per_host`` + ``host_spent`` give cumulative
    key-retirement semantics (reference: daily API budgets,
    /root/reference/youtube/get_youtube_v1.2.py:53-63,
    /root/reference/coinmarketcap/coin_market_cap_api_2.0.py:99-125):
    each host's per-generation budget is capped at
    ``total_budget_per_host - spent`` — the spend table rides the state
    cogroup, never the driver.

    ``n_salts > 1`` is the mega-host skew escape hatch (module
    docstring). Pass ``state`` directly (pre-built tagged table, e.g. the
    bucketed checkpoint snapshot) to skip the union assembly and keep the
    state side's bucketed partitioning for exchange elision; ``exact``,
    ``robots`` and ``host_spent`` are then unused.

    The kernel runs under ``applyInArrow``: URL strings stay in Arrow
    buffers end-to-end and never materialize as Python objects (a pandas
    rendering of the same kernel is the differential oracle in
    tests/fused_oracles.py).

    ``emit_strings`` trims the output Arrow hop (hash/flag columns are
    always emitted for every row, bit-identical across modes):

    - ``"all"``: every row carries url_canon + host (default).
    - ``"frontier"``: strings only on rows that outlive this generation
      (scheduled + deferred + pending — the fetch/requeue set).
      dup/seen/disallowed rows are only ever counted or folded into the
      seen-set BY HASH downstream (plans/crawl.py), so nulling their
      strings is loop-safe, and at real frontier scale the dropped
      majority's string bytes vanish from the worker→JVM hop.
    """
    if emit_strings not in ("all", "frontier"):
        raise ValueError(f"emit_strings must be all|frontier, got {emit_strings!r}")
    trim = emit_strings == "frontier"
    if "is_new" not in candidates.columns:
        candidates = candidates.withColumn("is_new", F.lit(True))
    if "retry_count" not in candidates.columns:
        candidates = candidates.withColumn("retry_count", F.lit(0))
    has_host = "host" in candidates.columns
    salted = n_salts > 1

    if state is None:
        if n_host_buckets is None:
            raise ValueError(
                "n_host_buckets is required to bucket the robots/quota dimension "
                "(or pass a pre-built `state`)"
            )
        parts = [robots_state(spark, robots, n_host_buckets)]
        if exact is not None:
            parts.append(seen_state(exact))
        if host_spent is not None:
            parts.append(quota_state(host_spent, n_host_buckets))
        state = parts[0]
        for p in parts[1:]:
            state = state.unionByName(p)

    blobs_bc = spark.sparkContext.broadcast(blobs) if blobs is not None else None
    default_delay, default_budget = cfg.default_delay_ms, cfg.default_budget
    total_budget = total_budget_per_host

    _STATUSES = ["scheduled", "deferred", "disallowed", "dup", "seen", "pending"]

    def _empty_pa(salted_cols: bool) -> pa.Table:
        cols = {
            "url_hash": pa.array([], pa.int64()),
            "url_canon": pa.array([], pa.string()),
            "host": pa.array([], pa.string()),
            "host_bucket": pa.array([], pa.int32()),
            "priority": pa.array([], pa.int64()),
            "is_new": pa.array([], pa.bool_()),
            "retry_count": pa.array([], pa.int32()),
            "status": pa.array([], pa.string()),
            "host_rank": pa.array([], pa.int32()),
            "fetch_offset_ms": pa.array([], pa.int64()),
        }
        if salted_cols:
            cols["crawl_delay_ms"] = pa.array([], pa.int64())
            cols["budget_eff"] = pa.array([], pa.int64())
        return pa.table(cols)

    def run_arrow(cand: pa.Table, st: pa.Table) -> pa.Table:
        """One cogroup (bucket[, salt]) of candidates × state -> rows.
        No Python str objects are minted per row on either the input or
        output side: at high parallelism the per-worker CPU this saves is
        the difference between scaling with cores and burning them on
        object churn."""
        n = cand.num_rows
        if n == 0:
            return _empty_pa(salted)
        canon = cand.column("url_canon").combine_chunks()
        url_hash_np = cand.column("url_hash").to_numpy()
        priority_np = cand.column("priority").to_numpy()
        is_new_np = cand.column("is_new").to_numpy()
        retry_np = cand.column("retry_count").to_numpy()
        hb_np = cand.column("host_bucket").to_numpy()
        if has_host:
            host_arr = pc.fill_null(cand.column("host").combine_chunks(), "")
        else:
            host_arr = pc.fill_null(
                pc.struct_field(pc.extract_regex(canon, _HOST_RE_PA), "h"), ""
            )

        # state slices (tag-sliced in C++, never via Python strings)
        if st.num_rows:
            tag = st.column("tag")
            seen_hashes = (
                st.column("url_hash").filter(pc.equal(tag, "s")).to_numpy()
            )
            rb = st.filter(pc.equal(tag, "r")).select(
                ["host", "crawl_delay_ms", "max_per_generation", "disallow_prefixes"]
            ).to_pydict()
            delays = dict(zip(rb["host"], rb["crawl_delay_ms"]))
            budgets = dict(zip(rb["host"], rb["max_per_generation"]))
            disallow = {
                h: v for h, v in zip(rb["host"], rb["disallow_prefixes"])
                if v is not None and len(v)
            }
            qt = st.filter(pc.equal(tag, "q")).select(["host", "spent"]).to_pydict()
            spent = dict(zip(qt["host"], qt["spent"]))
        else:
            seen_hashes = None
            delays, budgets, disallow, spent = {}, {}, {}, {}

        new_idx = np.flatnonzero(is_new_np)
        byp_idx = np.flatnonzero(~is_new_np)
        dup_idx = seen_idx = np.zeros(0, np.int64)

        # 1. spelling-dedup on new rows: keep min (packed) priority per
        #    url (adjacent after the hash-primary, priority-minor sort)
        if len(new_idx):
            order = np.lexsort((priority_np[new_idx], url_hash_np[new_idx]))
            s = new_idx[order]
            hs = url_hash_np[s]
            dup = np.zeros(len(s), bool)
            dup[1:] = hs[1:] == hs[:-1]
            if emit_dropped and dup.any():
                dup_idx = s[dup]
            new_idx = s[~dup]

        # 2. exact membership (Bloom blob pre-filters the probe set)
        if len(new_idx):
            h = url_hash_np[new_idx]
            ex = (
                np.sort(seen_hashes)
                if seen_hashes is not None and len(seen_hashes)
                else None
            )
            seen_mask = np.zeros(len(new_idx), bool)
            if ex is not None and len(ex):
                if blobs_bc is not None and params is not None:
                    b = int(hb_np[0])
                    probe = np.flatnonzero(
                        bloom_test_blob(h, blobs_bc.value.get(b), params)
                    )
                else:
                    probe = np.arange(len(h))
                if len(probe):
                    idx = np.clip(np.searchsorted(ex, h[probe]), 0, len(ex) - 1)
                    seen_mask[probe[ex[idx] == h[probe]]] = True
            if emit_dropped and seen_mask.any():
                seen_idx = new_idx[seen_mask]
            new_idx = new_idx[~seen_mask]

        pool_idx = np.concatenate([byp_idx, new_idx]) if len(byp_idx) else new_idx
        if len(pool_idx) == 0 and not (len(dup_idx) or len(seen_idx)):
            return _empty_pa(salted)

        pool_host = pc.take(host_arr, pa.array(pool_idx))
        denc = pc.dictionary_encode(pool_host)
        hcodes = denc.indices.to_numpy().astype(np.int64)
        uhosts = denc.dictionary.to_pylist()

        # 3. robots disallow prefixes (per-host loop: few hosts per bucket)
        blocked = np.zeros(len(pool_idx), bool)
        for c, hst in enumerate(uhosts):
            prefixes = disallow.get(hst)
            if not prefixes:
                continue
            rows = np.flatnonzero(hcodes == c)
            paths = pc.replace_substring_regex(
                pc.take(canon, pa.array(pool_idx[rows])),
                pattern=r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", replacement="",
            )
            hit = np.zeros(len(rows), bool)
            for pfx in prefixes:
                hit |= pc.starts_with(paths, pattern=pfx).to_numpy(
                    zero_copy_only=False
                )
            blocked[rows] = hit

        # 4. per-host rank over allowed rows -> budget + offsets. Sorting
        #    by (host, is_new, priority, url_hash) reproduces the final-
        #    priority order: deferred rows' minted priorities precede any
        #    future mint, and new rows' packed keys are mint-monotone.
        #    Dictionary codes group hosts contiguously (rank depends only
        #    on within-host order), and per-host robots values are looked
        #    up once per DISTINCT host, never per row.
        ap = np.flatnonzero(~blocked)
        apc = pool_idx[ap]
        order = np.lexsort(
            (url_hash_np[apc], priority_np[apc], is_new_np[apc], hcodes[ap])
        )
        allowed_pool = ap[order]
        allowed_cand = pool_idx[allowed_pool]
        hc = hcodes[allowed_pool]
        idx = np.arange(len(hc))
        change = np.empty(len(hc), bool)
        if len(hc):
            change[0] = True
            change[1:] = hc[1:] != hc[:-1]
        starts = np.maximum.accumulate(np.where(change, idx, 0))
        rank = (idx - starts + 1).astype(np.int64)
        u_budget = np.fromiter(
            (budgets.get(h, default_budget) for h in uhosts), np.int64, len(uhosts)
        )
        if total_budget is not None:
            u_left = np.fromiter(
                (max(0, total_budget - spent.get(h, 0)) for h in uhosts),
                np.int64, len(uhosts),
            )
            u_budget = np.minimum(u_budget, u_left)
        budget = u_budget[hc]
        u_delay = np.fromiter(
            (delays.get(h, default_delay) for h in uhosts), np.int64, len(uhosts)
        )
        delay = u_delay[hc]
        within = rank <= budget

        # output assembly: one permutation over the original cand rows +
        # per-segment status codes; strings leave via a single pc.take
        blocked_cand = pool_idx[np.flatnonzero(blocked)]
        n_a, n_b, n_d, n_s = len(allowed_cand), len(blocked_cand), len(dup_idx), len(seen_idx)
        final_idx = np.concatenate([allowed_cand, blocked_cand, dup_idx, seen_idx])
        codes = np.empty(len(final_idx), np.int8)
        if salted:
            codes[:n_a] = np.where(within, 5, 1)  # pending | deferred
        else:
            codes[:n_a] = np.where(within, 0, 1)  # scheduled | deferred
        codes[n_a:n_a + n_b] = 2
        codes[n_a + n_b:n_a + n_b + n_d] = 3
        codes[n_a + n_b + n_d:] = 4
        host_rank = np.zeros(len(final_idx), np.int32)
        offset = np.zeros(len(final_idx), np.int64)
        if not salted:
            host_rank[:n_a] = rank.astype(np.int32)
            offset[:n_a] = np.where(within, (rank - 1) * delay, 0)
        # trimmed: disallowed, dup and seen rows go hash-only; strings
        # ride the Arrow hop only on the allowed segment [:n_a]
        # (scheduled/pending|deferred — see `codes` above)
        str_take = pa.array(
            final_idx, mask=np.arange(len(final_idx)) >= n_a if trim else None
        )
        cols = {
            "url_hash": pa.array(url_hash_np[final_idx]),
            "url_canon": pc.cast(pc.take(canon, str_take), pa.string()),
            "host": pc.cast(pc.take(host_arr, str_take), pa.string()),
            "host_bucket": pa.array(hb_np[final_idx].astype(np.int32)),
            "priority": pa.array(priority_np[final_idx]),
            "is_new": pa.array(is_new_np[final_idx]),
            "retry_count": pa.array(retry_np[final_idx].astype(np.int32)),
            "status": pa.DictionaryArray.from_arrays(
                pa.array(codes), pa.array(_STATUSES)
            ).cast(pa.string()),
            "host_rank": pa.array(host_rank),
            "fetch_offset_ms": pa.array(offset),
        }
        if salted:
            d_col = np.zeros(len(final_idx), np.int64)
            b_col = np.zeros(len(final_idx), np.int64)
            d_col[:n_a] = delay
            b_col[:n_a] = budget
            cols["crawl_delay_ms"] = pa.array(d_col)
            cols["budget_eff"] = pa.array(b_col)
        return pa.table(cols)

    in_cols = ["url_hash", "url_canon", "host_bucket", "priority", "is_new", "retry_count"]
    if has_host:
        in_cols.insert(2, "host")
    cand_sel = candidates.select(*in_cols)
    if not salted:
        return (
            cand_sel.groupBy("host_bucket").cogroup(state.groupBy("host_bucket"))
            .applyInArrow(run_arrow, schema=OUT_SCHEMA)
        )

    # salted phase 1: candidates and exact rows slice by pmod(url_hash),
    # per-host dimension rows replicate into every slice of their bucket
    salt_of = F.pmod(F.col("url_hash"), F.lit(n_salts)).cast("int")
    cand_salted = cand_sel.withColumn("salt", salt_of)
    dim = state.filter(F.col("tag") != "s").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    sal = state.filter(F.col("tag") == "s").withColumn("salt", salt_of)
    state_salted = sal.unionByName(dim)

    p1 = cand_salted.groupBy("host_bucket", "salt").cogroup(
        state_salted.groupBy("host_bucket", "salt")
    ).applyInArrow(run_arrow, schema=P1_SCHEMA)

    def rank_host(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.lexsort((
            pdf["url_hash"].to_numpy(), pdf["priority"].to_numpy(),
            pdf["is_new"].to_numpy(),
        ))
        pdf = pdf.iloc[order]
        rank = np.arange(1, len(pdf) + 1, dtype=np.int64)
        budget = pdf["budget_eff"].to_numpy(np.int64)
        delay = pdf["crawl_delay_ms"].to_numpy(np.int64)
        within = rank <= budget
        return pdf.assign(
            status=np.where(within, "scheduled", "deferred"),
            host_rank=rank.astype(np.int32),
            fetch_offset_ms=np.where(within, (rank - 1) * delay, 0).astype(np.int64),
        )[OUT_COLS]

    pending = p1.filter(F.col("status") == "pending")
    # phase 2: ≤ n_salts·budget rows per host — bounded regardless of how
    # skewed the candidate distribution is
    final = pending.groupBy("host").applyInPandas(rank_host, schema=OUT_SCHEMA)
    rest = p1.filter(F.col("status") != "pending").select(*OUT_COLS)
    return final.unionByName(rest)
