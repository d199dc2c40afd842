"""Distributed exclusive prefix sum and sequence packing.

``prefix_sum`` is the scan primitive a training-data pipeline needs for
concat-and-chunk sequence packing (every doc needs the total token count
of all docs before it in a global order). A naive ``sum() OVER (ORDER BY
...)`` collapses to a single partition — fatal at corpus scale. It is
``ranking.bucket_scan`` of the value column — the same scan the crawl
loop's priority mint runs — after one tiny min/max job when the leading
key's range is not given. Loose bounds cost only balance, never
correctness.

``pack_sequences`` applies it to the concat-and-chunk packing used by
LLM training pipelines: documents are concatenated in a deterministic
order and split into fixed-size token bins; a doc's bin span is pure
integer arithmetic on (offset, n_tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ranking import bucket_scan


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    val_col: str,
    out_col: str = "offset",
    num_partitions: int | None = None,
    bounds: tuple[int, int] | None = None,
    with_total: bool = False,
):
    """Add ``out_col`` = sum of ``val_col`` over all rows strictly before
    this row in the total order given by ``order_cols`` (exclusive scan,
    first row gets 0). ``order_cols`` must form a unique key for the
    output to be deterministic, and ``order_cols[0]`` must be NUMERIC
    (the bucket map is arithmetic; string keys ride along as tie-break
    columns — give them an integer lane up front, see crawl_to_corpus).
    ``bounds=(lo, hi)`` is an optional known value range for
    ``order_cols[0]`` (``lo <= v < hi``); without it one tiny min/max
    job discovers the range."""
    parts = int(
        num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    if bounds is None:
        row = df.agg(
            F.min(order_cols[0]).alias("lo"), F.max(order_cols[0]).alias("hi")
        ).collect()[0]
        # empty input: any range scans zero rows
        bounds = (int(row["lo"] or 0), int(row["hi"] or 0) + 1)
    out, total = bucket_scan(
        df, order_cols, F.col(val_col).cast("long"), out_col, 0, parts, bounds
    )
    return (out, total) if with_total else out


def pack_sequences(
    docs: DataFrame,
    tokens_col: str,
    bin_tokens: int,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Concat-and-chunk packing: concatenate docs in ``order_cols`` order
    and split into ``bin_tokens``-sized training bins. Adds ``offset``
    (global token offset of the doc's first token), ``bin_first`` /
    ``bin_last`` (the bins the doc's tokens land in), and ``n_bins``
    (how many bins the doc spans — boundary docs split across bins, the
    standard GPT-style packing). Zero-token docs must be filtered by the
    caller (they have no token to place)."""
    order_cols = order_cols or ["doc_id"]
    out = prefix_sum(docs, order_cols, tokens_col, "offset")
    first = F.expr(f"offset div {int(bin_tokens)}")
    last = F.expr(f"(offset + {tokens_col} - 1) div {int(bin_tokens)}")
    return (
        out.withColumn("bin_first", first)
        .withColumn("bin_last", last)
        .withColumn("n_bins", (F.col("bin_last") - F.col("bin_first") + 1).cast("long"))
    )
