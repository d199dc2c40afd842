"""Similarity search over embedding columns (array<float>).

* ``cosine_topk``      — exact brute-force top-k per query: cosine via
  built-in ``zip_with`` + ``aggregate`` (no UDF), ranked with a
  per-query window. Baseline / oracle-checkable path.
* ``embedding_near_dups`` — near-duplicate pairs above a cosine
  threshold via sign-random-projection buckets (``srp_bucket``:
  deterministic hyperplanes from a seeded RNG, shipped as literal
  arrays); candidates are only same-bucket pairs, so the join is equi
  on bucket — 10^10-row friendly.
* ``ivf_topk`` — the scale top-k path: coarse k-means cells +
  multi-probe exact rerank.

Part of the engine's training-data toolkit (BASELINE/judge axis), not a
reference port — the reference has no vector ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_arrow():
    """Arrow-vectorized exact cosine (pandas UDF, one numpy einsum per
    batch) for VERIFY stages over many candidate pairs.

    ``cosine`` (zip_with/aggregate) stays on the oracle-checked paths:
    its left-fold summation is IEEE-identical to the DuckDB oracle's.
    But Catalyst evaluates higher-order-function lambdas INTERPRETED,
    per element — ~300k candidate pairs × dim 64 cost ~3 s at sf0.1
    where the einsum batch takes milliseconds. numpy's pairwise
    summation can differ from the fold in the last ulp, so this lane is
    for rows-only/verify paths, never the cross-engine-hashed ones."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        va = np.stack(a.to_numpy())
        vb = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", va, vb)
        den = np.sqrt(
            np.einsum("ij,ij->i", va, va) * np.einsum("ij,ij->i", vb, vb)
        )
        return pd.Series(num / den, index=a.index)

    return _cos


def cosine_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query row (brute force, broadcast queries)."""
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    joined = data.alias("d").crossJoin(F.broadcast(q))
    scored = joined.select(
        F.col(query_id_col),
        F.col(f"d.{id_col}").alias(id_col),
        cosine(F.col(f"d.{vec_col}"), F.col("__qvec")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim)).round(6).tolist()


def srp_bucket(vec_expr: str, dim: int, n_bits: int = 8, seed: int = 42):
    """Sign-random-projection bucket id (0..2^n_bits-1) as a column expr.

    Hyperplanes are deterministic literals (seeded RNG) — no UDF, no
    broadcast. They enter the plan as ONE parsed array<array<double>>
    literal inside a single transform/aggregate lambda, NOT as
    n_bits × dim unrolled ``lit`` Columns: the unrolled form built
    thousands of expression nodes through py4j and cost the DRIVER
    ~1.5 s of analysis/codegen per query (measured at n_bits=4,
    dim=64, ×3 tables ×2 join branches) for sub-millisecond executor
    work. The lambda tree is O(1) nodes regardless of n_bits/dim.

    ``vec_expr`` is a SQL expression string (usually the vector column
    name).
    """
    planes = _hyperplanes(dim, n_bits, seed)
    lit = "array(" + ",".join(
        "array(" + ",".join(f"{x!r}D" for x in p) + ")" for p in planes
    ) + ")"
    return F.expr(
        f"aggregate(transform({lit}, (p, i) -> IF("
        f"aggregate(zip_with({vec_expr}, p, (x, y) -> x * y), 0D, (a, x) -> a + x)"
        f" > 0D, shiftleft(1L, i), 0L)), 0L, (acc, b) -> acc + b)"
    )


def near_dup_bits_for(n_rows: int, target_bucket: int = 256) -> int:
    """Size SRP bucket bits so the per-bucket self-join stays bounded.

    The bucket self-join costs ~N²/2^n_bits pairs; fixing n_bits while N
    grows approaches all-pairs. n_bits ≈ log2(N / target_bucket) keeps the
    expected bucket near ``target_bucket`` rows (≤ target² pairs each) at
    any scale — 10^10 rows / 256-row buckets → 25 bits, still one
    equi-join shuffle."""
    import math

    if n_rows <= target_bucket:
        return 4
    return max(4, math.ceil(math.log2(n_rows / target_bucket)))


def embedding_near_dups(
    data: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 3,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, cos_sim ≥ threshold) via SRP buckets.

    ``n_bits`` defaults to ``near_dup_bits_for(n_rows)`` (counting the
    input if ``n_rows`` isn't given) so the bucket join scales; recall
    lost to narrower buckets is recovered by multi-probe: a pair is a
    candidate if it shares a bucket in ANY of ``n_tables`` independent
    hyperplane sets (recall-vs-bruteforce asserted in
    tests/test_kernels.py). Output cosine is exact (verified per pair).
    """
    if n_bits is None:
        n_bits = near_dup_bits_for(n_rows if n_rows is not None else data.count())
    # Candidate generation carries ONLY ids: the bucket self-join and the
    # cross-table distinct shuffle (table, bucket, id) / (id_a, id_b)
    # rows, never the vectors — at 10^10 rows the distinct is the
    # heaviest shuffle and dragging array<float> through it (×n_tables)
    # roughly doubles its bytes for nothing. Vectors attach once per
    # side after dedup. All n_tables bucket ids come from ONE codegen'd
    # projection + explode, and the per-table self-joins collapse into
    # ONE equi-join on (table, bucket): same shuffle bytes as n_tables
    # separate joins, a third of the exchanges/stages.
    tables = data.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(t).alias("t"),
                srp_bucket(vec_col, dim, n_bits, seed=42 + t).alias("bucket"),
            )
            for t in range(n_tables)
        ])).alias("tb"),
    ).select(F.col(id_col), F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))
    left = tables.select("t", "bucket", F.col(id_col).alias("id_a"))
    right = tables.select("t", "bucket", F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, ["t", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = data.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = data.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        pairs.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", cosine_arrow()(F.col("__va"), F.col("__vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _kmeans_centroids(
    data: DataFrame, dim: int, k: int, vec_col: str, iters: int = 3, seed: int = 7
) -> list[list[float]]:
    """Deterministic k-means for the IVF coarse quantizer.

    Init = first k rows of a seeded hash-ordered sample (stable across
    runs/partitionings); each refinement iteration is ONE map-side
    aggregation: assign every vector to its nearest centroid with a
    codegen'd argmin chain, then average per cell. Driver holds only the
    k×dim centroid matrix — the data never leaves executors.
    """
    init = (
        data.select(F.col(vec_col).alias("v"))
        .withColumn("__h", F.xxhash64(F.lit(seed), F.col("v").cast("array<string>")))
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    cents = [list(map(float, r["v"])) for r in init]
    for _ in range(iters):
        assigned = data.select(
            nearest_centroid(F.col(vec_col), cents).alias("cell"), F.col(vec_col).alias("v")
        )
        sums = assigned.groupBy("cell").agg(
            F.count("*").alias("n"),
            *[
                F.sum(F.element_at("v", i + 1)).alias(f"s{i}")
                for i in range(dim)
            ],
        ).collect()
        new = list(cents)
        for r in sums:
            new[r["cell"]] = [r[f"s{i}"] / r["n"] for i in range(dim)]
        cents = new
    return cents


def nearest_centroid(vec_col, centroids: list[list[float]]):
    """Codegen'd argmin over squared distance to literal centroids.

    Monotone trick: ||v - c||² = ||v||² - 2·v·c + ||c||², and ||v||² is
    constant per row, so argmin reduces to argmax(v·c - ||c||²/2) — one
    dot product per centroid, folded by Catalyst, selected via
    array_position(max). No UDF.
    """
    scores = []
    for c in centroids:
        half_norm = sum(x * x for x in c) / 2.0
        scores.append(
            _dot(vec_col, F.array(*[F.lit(float(x)) for x in c])) - F.lit(half_norm)
        )
    arr = F.array(*scores)
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def centroid_rank_cells(vec_col, centroids: list[list[float]], nprobe: int):
    """Array of the nprobe nearest cell ids (same score trick, full sort)."""
    scored = F.array(*[
        F.struct(
            (_dot(vec_col, F.array(*[F.lit(float(x)) for x in c]))
             - F.lit(sum(x * x for x in c) / 2.0)).alias("s"),
            F.lit(i).alias("cell"),
        )
        for i, c in enumerate(centroids)
    ])
    top = F.slice(F.reverse(F.array_sort(scored)), 1, nprobe)
    return F.transform(top, lambda x: x["cell"])


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: coarse k-means cells + multi-probe rerank.

    The inverted-file layout at 10^10 rows: every vector sits in exactly
    one cell (equi-partitionable, writable as a partitioned table); a
    query scans only its ``nprobe`` nearest cells — candidates ≈
    N·nprobe/n_cells — then exact cosine reranks. Unlike SRP bucketing
    (``srp_bucket``), IVF adapts to the data distribution. All Catalyst
    expressions; no UDF.
    """
    cents = _kmeans_centroids(data, dim, n_cells, vec_col)
    d = data.select(
        F.col(id_col), F.col(vec_col).alias("__vec"),
        nearest_centroid(F.col(vec_col), cents).alias("cell"),
    )
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec"),
        F.explode(centroid_rank_cells(F.col(vec_col), cents, nprobe)).alias("cell"),
    )
    cand = d.join(q, "cell").select(query_id_col, id_col, "__vec", "__qvec").distinct()
    scored = cand.select(
        query_id_col, id_col, cosine(F.col("__vec"), F.col("__qvec")).alias("cos_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
