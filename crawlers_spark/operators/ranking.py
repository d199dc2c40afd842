"""Deterministic, scalable global ranking (no single-partition window).

A naive ``row_number() OVER (ORDER BY ...)`` collapses to one partition —
fatal at 10^10 rows. This operator assigns a contiguous 0-based global
rank that follows a total order with bounded per-task work:

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order columns
   (globally ordered across partition boundaries),
2. count rows per partition (small collect: one long per partition),
3. ``mapInPandas`` adds each partition's prefix-sum offset to a running
   local count.

Determinism: range-boundary placement may vary run to run, but ranks
follow the total order regardless, so the output is deterministic as long
as the order columns form a unique key (callers include ``url_hash``).

The crawl engine uses this to mint frontier priorities — the scalar that
reproduces the reference's serial discovery order (SURVEY.md §4.2 item 5)
under full parallelism.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
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
    never correctness) — the operator takes a cheaper path producing the
    IDENTICAL ranks: rows are binned by a monotone arithmetic bucket of
    the leading key (no ``repartitionByRange``, so no hidden sampling
    job), per-bucket counts prefix-sum into offsets (one small job), and
    the final rank is ``offset[bucket] + row_number() OVER (PARTITION BY
    bucket ORDER BY order_cols)`` — all JVM-side, no Python worker, one
    exchange, two jobs instead of three. The crawl loop knows its minted
    priorities' range by construction and uses this path every
    generation."""
    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    if bounds is not None:
        return _rank_with_bounds(
            df, order_cols, out_col, start, int(parts), with_count, bounds,
            bucket_counts,
        )
    if bucket_counts is not None:
        raise ValueError("bucket_counts requires bounds (same bucket map)")
    ordered = (
        df.repartitionByRange(int(parts), *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
    )
    # load-bearing: the prefix-sum offsets come from one concrete range
    # partitioning, and a recompute could sample different boundaries
    ordered = ordered.persist()
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
    """The exact bucket-id expression ``_rank_with_bounds`` bins by.

    Exposed so a loop caller that ALREADY runs an aggregation over the
    same frame can fold the per-bucket count into it (group by this
    expression alongside its own keys) and hand the counts back via
    ``global_rank(..., bucket_counts=...)`` — collapsing the ranker's
    internal count job into an agg the caller pays for anyway."""
    lo, hi = bounds
    nb = max(4 * parts, 16)
    span = float(max(1, hi - lo))
    key = F.col(order_col)
    return F.least(
        F.lit(nb - 1),
        F.greatest(
            F.lit(0),
            F.floor((key - F.lit(lo)).cast("double") / F.lit(span) * F.lit(nb)).cast("int"),
        ),
    )


def _rank_with_bounds(
    df: DataFrame,
    order_cols: list[str],
    out_col: str,
    start: int,
    parts: int,
    with_count: bool,
    bounds: tuple[int, int],
    bucket_counts: dict[int, int] | None = None,
):
    """Bucket-offset ranking under a caller-known leading-key range.

    The bucket map ``floor((v - lo) / span * B)`` is monotone
    non-decreasing in ``v`` (IEEE division and multiplication by a
    positive constant are monotone, and floor preserves monotonicity),
    so bucket boundaries respect the total order even when the double
    arithmetic is inexact — exactness only moves WHERE a boundary falls,
    which affects balance, not rank values. B = 4x shuffle partitions
    keeps loose bounds (empty low buckets) from costing parallelism;
    the window hash-distributes buckets across tasks regardless of
    bucket id, which is legal because the rank no longer depends on
    partition placement — only on the bucket id and the within-bucket
    order.

    With ``bucket_counts`` (caller-precomputed via ``rank_bucket_expr``)
    the internal count job is skipped entirely and the whole rank is one
    lazy plan — zero extra jobs until the caller materializes it."""
    binned = df.withColumn(
        "__b", rank_bucket_expr(order_cols[0], parts, bounds)
    )
    counts = (
        bucket_counts
        if bucket_counts is not None
        else {
            r["__b"]: r["cnt"]
            for r in binned.groupBy("__b").agg(F.count("*").alias("cnt")).collect()
        }
    )
    offsets: dict[int, int] = {}
    acc = start
    for bid in sorted(counts):
        offsets[bid] = acc
        acc += counts[bid]
    if counts:
        omap = F.create_map(
            *[F.lit(x) for bid in counts for x in (bid, offsets[bid])]
        )
    else:  # zero rows: any correctly-typed map (an untyped empty map is VOID)
        omap = F.create_map(F.lit(0), F.lit(start))
    w = Window.partitionBy("__b").orderBy(*order_cols)
    out = binned.withColumn(
        out_col,
        (omap[F.col("__b")] + F.row_number().over(w) - 1).cast("long"),
    ).drop("__b")
    if with_count:
        return out, acc - start
    return out
