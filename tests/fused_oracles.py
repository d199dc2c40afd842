"""Independent oracles for the fused frontier step
(crawlers_spark/operators/fused_schedule.py).

- ``catalyst_schedule``: the step as a plain Catalyst chain — ``groupBy``
  spelling dedup, ``left_anti`` against the pre-seen set, robots
  disallow via ``parse_url``, then a naive per-host ``row_number``
  window for budget and offsets. Shares no code with the fused kernel.
- ``pandas_fused_schedule``: the same per-bucket kernel written over
  pandas frames under ``applyInPandas`` (unsalted, every row keeps its
  strings) — the differential oracle for the Arrow kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawlers_spark.functions.urls import url_host
from crawlers_spark.operators.fused_schedule import (
    OUT_COLS,
    OUT_SCHEMA,
    quota_state,
    robots_state,
    seen_state,
)
from crawlers_spark.operators.scheduler import SchedulerConfig
from crawlers_spark.operators.seen_set import BloomParams, bloom_test_blob


def catalyst_schedule(
    spark: SparkSession,
    raw: DataFrame,
    preseen: DataFrame,
    robots: pd.DataFrame,
    cfg: SchedulerConfig = SchedulerConfig(),
) -> DataFrame:
    """raw candidate spellings (url_hash, url_canon, host, priority) ->
    surviving rows (url_hash, status, host_rank, fetch_offset_ms) with
    status scheduled | deferred | disallowed."""
    new = (
        raw.groupBy("url_hash", "url_canon", "host")
        .agg(F.min("priority").alias("priority"))
        .join(preseen.select("url_hash"), "url_hash", "left_anti")
    )
    joined = (
        new.join(F.broadcast(spark.createDataFrame(robots)), "host", "left")
        .withColumn("__path", F.coalesce(F.expr("parse_url(url_canon, 'PATH')"), F.lit("/")))
        .withColumn("__blocked", F.coalesce(
            F.exists("disallow_prefixes", lambda p: F.col("__path").startswith(p)),
            F.lit(False),
        ))
    )
    w = Window.partitionBy("host").orderBy("priority", "url_hash")
    ranked = joined.filter(~F.col("__blocked")).withColumn("host_rank", F.row_number().over(w))
    budget = F.coalesce("max_per_generation", F.lit(cfg.default_budget))
    delay = F.coalesce("crawl_delay_ms", F.lit(cfg.default_delay_ms))
    within = F.col("host_rank") <= budget
    allowed = ranked.select(
        "url_hash",
        F.when(within, "scheduled").otherwise("deferred").alias("status"),
        "host_rank",
        F.when(within, (F.col("host_rank") - 1) * delay).otherwise(0)
        .cast("long").alias("fetch_offset_ms"),
    )
    blocked = joined.filter("__blocked").select(
        "url_hash", F.lit("disallowed").alias("status"),
        F.lit(0).alias("host_rank"), F.lit(0).cast("long").alias("fetch_offset_ms"),
    )
    return allowed.unionByName(blocked)


def pandas_fused_schedule(
    spark: SparkSession,
    candidates: DataFrame,
    exact: DataFrame | None,
    robots: pd.DataFrame,
    cfg: SchedulerConfig,
    n_host_buckets: int,
    blobs: dict[int, bytes] | None = None,
    params: BloomParams | None = None,
    emit_dropped: bool = False,
    host_spent: DataFrame | None = None,
    total_budget_per_host: int | None = None,
) -> DataFrame:
    """Unsalted ``fused_filter_schedule(..., emit_strings="all")`` on a
    pandas kernel: same signature subset, same output rows."""
    if "is_new" not in candidates.columns:
        candidates = candidates.withColumn("is_new", F.lit(True))
    if "retry_count" not in candidates.columns:
        candidates = candidates.withColumn("retry_count", F.lit(0))
    has_host = "host" in candidates.columns
    state = robots_state(spark, robots, n_host_buckets)
    if exact is not None:
        state = state.unionByName(seen_state(exact))
    if host_spent is not None:
        state = state.unionByName(quota_state(host_spent))
    blobs_bc = spark.sparkContext.broadcast(blobs) if blobs is not None else None
    default_delay, default_budget = cfg.default_delay_ms, cfg.default_budget

    def run(cand: pd.DataFrame, st: pd.DataFrame) -> pd.DataFrame:
        if len(cand) == 0:
            return pd.DataFrame(columns=OUT_COLS)
        if not has_host:
            cand = cand.assign(host=url_host(cand["url_canon"]))
        else:
            cand = cand.assign(host=cand["host"].fillna(""))
        tags = st["tag"].to_numpy()
        seen_hashes = np.sort(st["url_hash"].to_numpy(np.int64)[tags == "s"])
        rb = st.loc[tags == "r"]
        delays = dict(zip(rb["host"], rb["crawl_delay_ms"]))
        budgets = dict(zip(rb["host"], rb["max_per_generation"]))
        disallow = {
            h: list(v) for h, v in zip(rb["host"], rb["disallow_prefixes"])
            if v is not None and len(v)
        }
        qt = st.loc[tags == "q"]
        spent = dict(zip(qt["host"], qt["spent"]))
        dropped: list[pd.DataFrame] = []

        new = cand.loc[cand["is_new"]]
        byp = cand.loc[~cand["is_new"]]

        # 1. spelling-dedup on new rows: keep min (packed) priority per url
        new = new.iloc[np.lexsort((new["priority"].to_numpy(), new["url_hash"].to_numpy()))]
        dup_mask = new["url_hash"].duplicated(keep="first").to_numpy()
        if emit_dropped:
            dropped.append(new.loc[dup_mask].assign(status="dup"))
        new = new.loc[~dup_mask]

        # 2. exact membership (the blob only shrinks the probe set)
        h = new["url_hash"].to_numpy(np.int64)
        seen_mask = np.zeros(len(new), bool)
        if len(seen_hashes) and len(h):
            if blobs_bc is not None:
                b = int(cand["host_bucket"].iloc[0])
                probe = np.flatnonzero(bloom_test_blob(h, blobs_bc.value.get(b), params))
            else:
                probe = np.arange(len(h))
            idx = np.clip(np.searchsorted(seen_hashes, h[probe]), 0, len(seen_hashes) - 1)
            seen_mask[probe[seen_hashes[idx] == h[probe]]] = True
        if emit_dropped:
            dropped.append(new.loc[seen_mask].assign(status="seen"))
        new = new.loc[~seen_mask]
        pool = pd.concat([byp, new], ignore_index=True)

        # 3. robots disallow prefixes
        path = pool["url_canon"].str.replace(
            r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", "", regex=True
        )
        blocked = np.array([
            any(p.startswith(x) for x in disallow.get(hst, ()))
            for hst, p in zip(pool["host"], path)
        ], bool)

        # 4. per-host rank over allowed rows -> budget + offsets
        ap = pool.loc[~blocked].sort_values(
            ["host", "is_new", "priority", "url_hash"], kind="stable"
        )
        rank = ap.groupby("host").cumcount().to_numpy(np.int64) + 1
        hosts = ap["host"]
        budget = hosts.map(lambda x: budgets.get(x, default_budget)).to_numpy(np.int64)
        if total_budget_per_host is not None:
            left = hosts.map(lambda x: max(0, total_budget_per_host - spent.get(x, 0)))
            budget = np.minimum(budget, left.to_numpy(np.int64))
        delay = hosts.map(lambda x: delays.get(x, default_delay)).to_numpy(np.int64)
        within = rank <= budget
        parts = [
            ap.assign(
                status=np.where(within, "scheduled", "deferred"),
                host_rank=rank.astype(np.int32),
                fetch_offset_ms=np.where(within, (rank - 1) * delay, 0).astype(np.int64),
            ),
            pool.loc[blocked].assign(status="disallowed", host_rank=0, fetch_offset_ms=0),
        ]
        parts += [d.assign(host_rank=0, fetch_offset_ms=0) for d in dropped]
        return pd.concat(parts, ignore_index=True)[OUT_COLS]

    in_cols = ["url_hash", "url_canon", "host_bucket", "priority", "is_new", "retry_count"]
    if has_host:
        in_cols.insert(2, "host")
    return (
        candidates.select(*in_cols).groupBy("host_bucket")
        .cogroup(state.groupBy("host_bucket"))
        .applyInPandas(run, schema=OUT_SCHEMA)
    )
