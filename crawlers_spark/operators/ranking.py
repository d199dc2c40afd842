"""Deterministic, scalable global ranks and exclusive scans (no
single-partition window).

A naive ``row_number() OVER (ORDER BY ...)`` or ``sum() OVER (ORDER BY
...)`` collapses to one partition — fatal at 10^10 rows. Two paths keep
the per-task work bounded:

- ``bucket_scan``, for a caller-known range of the leading order key: bin
  rows by a monotone arithmetic bucket of that key (``rank_bucket_expr``),
  prefix-sum the per-bucket totals on the driver (one small collect, or
  none when the caller folded the totals into an agg of its own), and add
  each row's bucket offset to an exclusive window sum within its bucket.
  One exchange, all JVM-side, no sampling job, no Python worker.
  ``global_rank(bounds=...)`` is the scan of 1 — the crawl loop's
  priority mint — and ``packing.prefix_sum`` is the scan of a value
  column.
- ``global_rank`` without bounds: ``repartitionByRange`` +
  ``sortWithinPartitions``, a per-partition count, and a ``mapInPandas``
  that adds each partition's offset. Its sampled range boundaries balance
  skewed leading keys (token counts, tied remainders) that an arithmetic
  bucket map would pile into a few tasks.

Determinism: range-boundary and bucket placement only move WHERE a
boundary falls; ranks and offsets follow the total order regardless, so
the output is deterministic as long as the order columns form a unique key
(callers include ``url_hash``).

The crawl engine uses this to mint frontier priorities — the scalar that
reproduces the reference's serial discovery order (SURVEY.md §4.2 item 5)
under full parallelism.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    start: int = 0,
    num_partitions: int | None = None,
    with_count: bool = False,
    bounds: tuple[int, int] | None = None,
    bucket_counts: dict[int, int] | None = None,
):
    """Add ``out_col`` = deterministic global 0-based rank + ``start``.

    With ``with_count=True`` returns ``(df, n_rows)`` — the row count is
    free here (it is the sum of the per-partition counts this operator
    already collects), saving callers a separate count job.

    With ``bounds=(lo, hi)`` — a caller-known value range for
    ``order_cols[0]`` (``lo <= v < hi``; looseness costs only balance,
    never correctness) — the rank is ``bucket_scan`` of 1: the IDENTICAL
    ranks in two jobs instead of three, or in none of its own when the
    caller hands over ``bucket_counts`` (see ``rank_bucket_expr``). The
    crawl loop knows its minted priorities' range by construction and
    uses this path every generation."""
    parts = int(num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if bounds is not None:
        out, n = bucket_scan(
            df, order_cols, F.lit(1), out_col, start, parts, bounds, bucket_counts
        )
        return (out, n) if with_count else out
    if bucket_counts is not None:
        raise ValueError("bucket_counts requires bounds (same bucket map)")
    # load-bearing checkpoint: the prefix-sum offsets come from one
    # concrete range partitioning, and a recompute could sample different
    # boundaries. Lazy: the per-partition count below scans every
    # partition, so that one job both fills and cuts it (a cache would
    # stay in the session's cache manager after the caller is done).
    ordered = (
        df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    ).localCheckpoint(eager=False)
    counts = {r["__pid"]: r["cnt"] for r in ordered.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    schema = StructType(list(ordered.schema.fields) + [StructField(out_col, LongType())])

    def add_rank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen_in_pid: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            base = offsets.get(pid, 0) + seen_in_pid.get(pid, 0)
            pdf = pdf.copy()
            pdf[out_col] = base + pd.RangeIndex(len(pdf)).to_numpy()
            seen_in_pid[pid] = seen_in_pid.get(pid, 0) + len(pdf)
            yield pdf

    out = ordered.mapInPandas(add_rank, schema=schema).drop("__pid")
    if with_count:
        return out, acc - start
    return out


def rank_bucket_expr(
    order_col: str, parts: int, bounds: tuple[int, int]
):
    """The bucket id ``bucket_scan`` bins by: ``floor((v - lo) / span * B)``
    clamped to ``[0, B)``, B = 4x ``parts`` (so loose bounds, with empty
    low buckets, do not cost parallelism).

    The map is monotone non-decreasing in ``v``: the cast to double, the
    subtraction of a constant, division and multiplication by positive
    constants are all monotone in IEEE arithmetic, and so are the clamp
    and the truncation of a non-negative double. Inexact arithmetic only
    moves WHERE a boundary falls (balance, not results). The key is cast
    before ``lo`` is subtracted, so any 64-bit key range works: a long
    ``v - lo`` overflows once the span passes 2^63.

    Exposed so a loop caller that ALREADY runs an aggregation over the
    same frame can fold the per-bucket count into it (group by this
    expression alongside its own keys) and hand the counts back via
    ``global_rank(..., bucket_counts=...)`` — collapsing the ranker's
    internal count job into an agg the caller pays for anyway."""
    lo, hi = bounds
    nb = max(4 * parts, 16)
    x = (F.col(order_col).cast("double") - F.lit(float(lo))) / F.lit(
        float(max(1, hi - lo))
    ) * F.lit(float(nb))
    return F.least(F.lit(nb - 1.0), F.greatest(F.lit(0.0), x)).cast("int")


def bucket_scan(
    df: DataFrame,
    order_cols: list[str],
    value: Column,
    out_col: str,
    start: int,
    parts: int,
    bounds: tuple[int, int],
    bucket_totals: dict[int, int] | None = None,
) -> tuple[DataFrame, int]:
    """Add ``out_col`` = ``start`` + the sum of ``value`` over all rows
    strictly before this row in the total order ``order_cols`` (an
    exclusive scan); returns ``(df, sum of value)``.

    ``order_cols[0]`` must be numeric and ``bounds`` its caller-known
    range (see ``rank_bucket_expr``). ``bucket_totals`` — the per-bucket
    sums of ``value``, grouped by ``rank_bucket_expr`` — skips the
    collect, so the whole scan is one lazy plan."""
    binned = df.withColumn("__b", rank_bucket_expr(order_cols[0], parts, bounds))
    if bucket_totals is None:
        bucket_totals = {
            r["__b"]: r["s"]
            for r in binned.groupBy("__b").agg(F.sum(value).alias("s")).collect()
        }
    offsets: dict[int, int] = {}
    acc = start
    for bid in sorted(bucket_totals):
        offsets[bid] = acc
        acc += bucket_totals[bid]
    # zero rows: any correctly-typed map (an untyped empty map is VOID)
    omap = F.create_map(*[F.lit(x) for kv in (offsets or {0: start}).items() for x in kv])
    w = (
        Window.partitionBy("__b")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(value).over(w), F.lit(0))
    out = binned.withColumn(out_col, (omap[F.col("__b")] + local).cast("long"))
    return out.drop("__b"), acc - start
