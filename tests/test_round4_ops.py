"""Round-4 operators: integer PageRank, HLL sketch.

The cross-engine value-hash check lives in test_queries_oracle.py; these
tests pin the operator SEMANTICS on hand-built inputs (tie rules, null
behavior, convergence against a float reference, error bounds,
parallelism invariance).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from crawlers_spark.operators.graph import pagerank_int
from crawlers_spark.operators.sketches import M, hll_distinct


# ----------------------------------------------------------------- pagerank


def _ref_pagerank(edges: list[tuple[int, int]], iters: int, damp=0.85):
    """Float reference implementation (driver-side, test-only)."""
    nodes = sorted({s for s, _ in edges})
    out: dict[int, list[int]] = {n: [] for n in nodes}
    for s, d in edges:
        out[s].append(d)
    r = {n: 1.0 / len(nodes) for n in nodes}
    for _ in range(iters):
        acc = {n: 0.0 for n in nodes}
        for s, ds in out.items():
            for d in ds:
                acc[d] += r[s] / len(ds)
        r = {n: (1 - damp) / len(nodes) + damp * acc[n] for n in nodes}
    return r


def test_pagerank_matches_float_reference(spark):
    # deterministic pseudo-random bidirectional graph, 40 nodes
    pairs = {(i, (i * i * 7 + 3) % 40) for i in range(40)} | {
        (i, (i * 13 + 5) % 40) for i in range(40)
    }
    pairs = {(a, b) for a, b in pairs if a != b}
    edges = list(pairs) + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank_int(df, iters=3).collect()}
    ref = _ref_pagerank(edges, iters=3)
    assert set(got) == set(ref)
    scale = 10**12
    for n, rf in ref.items():
        # integer floor quantization: tiny, one-sided (int <= float)
        assert got[n] <= rf * scale + 1
        assert got[n] > rf * scale - 5e4  # < 5e-8 absolute drift
    # mass is conserved up to floor losses
    assert abs(sum(got.values()) - scale) < scale * 1e-6


def test_pagerank_parallelism_invariant(spark):
    edges = [(i % 11, (i * 3 + 1) % 11) for i in range(30) if i % 11 != (i * 3 + 1) % 11]
    edges = list(set(edges + [(b, a) for a, b in edges]))
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, pagerank_int(df, iters=3).collect()))
    b = sorted(map(tuple, pagerank_int(df.repartition(13), iters=3).collect()))
    assert a == b  # exact integer arithmetic: bit-identical at any layout


# ---------------------------------------------------------------------- hll


@pytest.mark.parametrize("n_true", [50, 400, 5000])
def test_hll_error_bound(spark, n_true):
    df = spark.range(n_true).select(
        F.lit("g").alias("g"), F.col("id").cast("string").alias("v")
    )
    est = hll_distinct(df, ["g"], "v").collect()[0]["n_hll"]
    # standard error 1.04/sqrt(m) ~ 6.5%; allow 4 sigma
    assert abs(est - n_true) < 4 * 1.04 / (M**0.5) * n_true + 2


def test_hll_is_mergeable_and_deterministic(spark):
    # same values split across two groups then re-keyed together must give
    # the identical estimate as one group (register-max merge semantics)
    a = spark.range(1000).select(F.lit("g").alias("g"), F.col("id").cast("string").alias("v"))
    dup = a.unionByName(a)  # duplicates must not move the estimate
    e1 = hll_distinct(a, ["g"], "v").collect()[0]["n_hll"]
    e2 = hll_distinct(dup.repartition(9), ["g"], "v").collect()[0]["n_hll"]
    assert e1 == e2


# ---------------------------------------------------------------------- cms


def test_cms_never_underestimates_and_eps_bound(spark):
    from crawlers_spark.operators.sketches import CMS_W, cms_estimate

    # zipf-ish weights: key k appears ~ N/k times
    import itertools

    rows = list(
        itertools.chain.from_iterable(
            [(f"key{k}",)] * (2000 // k) for k in range(1, 200)
        )
    )
    df = spark.createDataFrame(rows, "word string")
    wc = df.groupBy("word").agg(F.count("*").alias("n"))
    total = len(rows)
    out = cms_estimate(wc, "word", "n").collect()
    assert len(out) == 199
    for r in out:
        assert r["n_cms"] >= r["n"]  # CMS can only overestimate
        # Markov bound per lane: overshoot < 2*total/W w.p. 1/2, min over
        # 4 independent lanes → allow the 2e/W classical bound with slack
        assert r["n_cms"] - r["n"] <= 6 * total / CMS_W + 1


def test_cms_linear_in_input(spark):
    # feeding raw occurrences vs pre-combined (word, n) weights must build
    # the identical grid, hence identical estimates (CMS is linear)
    from crawlers_spark.operators.sketches import cms_estimate

    raw = spark.createDataFrame(
        [(f"w{i % 7}",) for i in range(500)], "word string"
    ).select("word", F.lit(1).alias("n1"))
    wc = raw.groupBy("word").agg(F.sum("n1").alias("n"))
    a = {
        r["word"]: r["n_cms"]
        for r in cms_estimate(wc, "word", "n").collect()
    }
    per_occurrence = (
        cms_estimate(raw, "word", "n1")
        .groupBy("word")
        .agg(F.max("n_cms").alias("n_cms"))
    )
    b = {r["word"]: r["n_cms"] for r in per_occurrence.collect()}
    # per-occurrence rows each look up the same grid of summed weights,
    # so every occurrence of a word reports the word's full estimate
    assert a == b


# ---------------------------------------------------------------------- kmv


def test_kmv_two_phase_bottom_k_is_exact(spark):
    """The query's two-phase bottom-k (rank within (source, h%16) salt
    buckets, then within source) must select exactly the k globally
    smallest hashes per source: phase 1 keeps each bucket's k smallest,
    and any hash among a source's global k smallest is necessarily among
    its own bucket's k smallest — a superset, so phase 2's rank is exact."""
    from pyspark.sql import Window

    k = 8
    df = spark.createDataFrame(
        [("s", int(h)) for h in range(997, 0, -7)], "source string, h long"
    )
    p1 = (
        df.withColumn("salt", F.pmod("h", F.lit(16)))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("source", "salt").orderBy("h")))
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    two = (
        p1.withColumn("rn", F.row_number().over(
            Window.partitionBy("source").orderBy("h")))
        .filter(F.col("rn") <= k)
    )
    got = sorted(r["h"] for r in two.collect())
    want = sorted(r["h"] for r in df.orderBy("h").limit(k).collect())
    assert got == want


# ------------------------------------------------- global_rank bounds path


def test_rank_bounds_path_matches_legacy(spark):
    from crawlers_spark.operators.ranking import global_rank

    narrow = [((i * 37) % 101 + 50, i * 7919) for i in range(200)]
    # leading keys over -2^62..2^62: the span reaches 2^63, past a long
    wide = [(((i * 37) % 101 - 50) * 2**62 // 50, i * 7919) for i in range(200)]
    for rows, all_bounds in [
        (narrow, [(50, 151), (0, 1000), (60, 120)]),  # tight, loose, clamping
        (wide, [(-(2**62), 2**62 + 1), (-(2**63), 2**63 - 1)]),  # tight, loose
    ]:
        df = spark.createDataFrame(rows, "priority long, url_hash long")
        legacy = {
            (r["priority"], r["url_hash"]): r["rk"]
            for r in global_rank(df, ["priority", "url_hash"], "rk", start=1000).collect()
        }
        for bounds in all_bounds:
            fast, n = global_rank(
                df, ["priority", "url_hash"], "rk", start=1000,
                with_count=True, bounds=bounds,
            )
            got = {(r["priority"], r["url_hash"]): r["rk"] for r in fast.collect()}
            assert got == legacy, f"bounds={bounds}"
            assert n == 200
        # ranks are the positions in the total order, contiguous from start
        assert sorted(legacy.values()) == list(range(1000, 1200))
        assert sorted(legacy) == [k for k, _v in sorted(legacy.items(), key=lambda kv: kv[1])]


def test_rank_bounds_path_empty_input(spark):
    from crawlers_spark.operators.ranking import global_rank

    df = spark.createDataFrame([], "priority long, url_hash long")
    out, n = global_rank(
        df, ["priority", "url_hash"], "rk", with_count=True, bounds=(0, 10)
    )
    assert n == 0 and out.count() == 0


def test_rank_precomputed_bucket_counts_match_self_counting(spark):
    """The crawl loop folds global_rank's per-bucket counts into an agg
    it already runs (rank_bucket_expr) — ranks must be identical to the
    self-counting bounds path, and n must come back as the counts' sum."""
    from pyspark.sql import functions as F

    from crawlers_spark.operators.ranking import global_rank, rank_bucket_expr

    rows = [((i * 37) % 101 + 50, i * 7919) for i in range(200)]
    df = spark.createDataFrame(rows, "priority long, url_hash long")
    for bounds in [(50, 151), (0, 1000)]:
        want = {
            (r["priority"], r["url_hash"]): r["rk"]
            for r in global_rank(
                df, ["priority", "url_hash"], "rk", start=7, bounds=bounds
            ).collect()
        }
        counts = {
            r["__b"]: r["n"]
            for r in df.groupBy(
                rank_bucket_expr("priority", 8, bounds).alias("__b")
            ).agg(F.count("*").alias("n")).collect()
        }
        got_df, n = global_rank(
            df, ["priority", "url_hash"], "rk", start=7, with_count=True,
            num_partitions=8, bounds=bounds, bucket_counts=counts,
        )
        got = {(r["priority"], r["url_hash"]): r["rk"] for r in got_df.collect()}
        assert got == want, f"bounds={bounds}"
        assert n == 200
    # empty counts dict => zero rows ranked, n == 0 (not a fallback scan)
    out, n = global_rank(
        df.filter("priority < 0"), ["priority", "url_hash"], "rk",
        with_count=True, bounds=(0, 10), bucket_counts={},
    )
    assert n == 0 and out.count() == 0


# ------------------------------------------------------------- prefix_sum


def test_prefix_sum_matches_single_partition_window(spark):
    from crawlers_spark.operators.packing import prefix_sum

    rows = [((i * 53) % 97, i, (i * 13) % 7 + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, tie long, v long").repartition(11)
    got = {
        (r["k"], r["tie"]): r["offset"]
        for r in prefix_sum(df, ["k", "tie"], "v", "offset").collect()
    }
    acc, want = 0, {}
    for k, tie, v in sorted(rows):
        want[(k, tie)] = acc
        acc += v
    assert got == want
    # explicit loose bounds give the identical scan
    fast, total = prefix_sum(
        df, ["k", "tie"], "v", "offset", bounds=(0, 1000), with_total=True
    )
    assert {(r["k"], r["tie"]): r["offset"] for r in fast.collect()} == want
    assert total == acc


def test_prefix_sum_empty_and_pack_spans(spark):
    from crawlers_spark.operators.packing import pack_sequences, prefix_sum

    empty = spark.createDataFrame([], "k long, v long")
    out, total = prefix_sum(empty, ["k"], "v", with_total=True)
    assert total == 0 and out.count() == 0

    docs = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 1100), (4, 24)], "doc_id long, n_tokens long"
    )
    packed = {r["doc_id"]: r for r in pack_sequences(docs, "n_tokens", 512).collect()}
    # doc1: [0,300) -> bin 0; doc2: [300,600) -> bins 0-1 (boundary split)
    assert (packed[1]["bin_first"], packed[1]["bin_last"]) == (0, 0)
    assert (packed[2]["bin_first"], packed[2]["bin_last"], packed[2]["n_bins"]) == (0, 1, 2)
    # doc3: [600,1700) spans bins 1-3; doc4: [1700,1724) -> bin 3
    assert (packed[3]["bin_first"], packed[3]["bin_last"], packed[3]["n_bins"]) == (1, 3, 3)
    assert (packed[4]["bin_first"], packed[4]["bin_last"]) == (3, 3)


# ---------------------------------------------------------- dataset_split


def test_dataset_split_subset_stable(spark):
    """A doc's split must not change when the corpus grows/shrinks —
    the property that keeps eval sets honest across corpus versions."""
    from crawlers_spark.queries import q_dataset_split

    full = {
        r["doc_id"]: r["split"]
        for r in q_dataset_split(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(full.values()) == {"train", "val", "test"}
    n = len(full)
    n_train = sum(1 for s in full.values() if s == "train")
    assert 0.6 * n < n_train < 0.95 * n  # ~80% with hash noise
    # recompute on a halved corpus: every surviving doc keeps its split
    import crawlers_spark.queries as Q
    import pyspark.sql.functions as F

    d = Q.load_table(spark, "/root/testdata/sf0.001", "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    from crawlers_spark.operators.sampling import hash_uniform

    u = hash_uniform(F.col("doc_id"), Q._SPLIT_SEED)
    split = (
        F.when(u < Q._SPLIT_TRAIN_THR, "train")
        .when(u < Q._SPLIT_VAL_THR, "val")
        .otherwise("test")
    )
    half = {r["doc_id"]: r["split"] for r in d.select("doc_id", split.alias("split")).collect()}
    assert all(full[k] == v for k, v in half.items())


def test_approx_percentile_scale_path_close_to_exact(spark):
    """The documented 100-TB path for length_quantiles: approx_percentile
    lands within 2% of the exact rank-selected p50/p90 on the test
    corpus (t-digest merge, one pass, no per-group sort)."""
    from crawlers_spark.queries import load_table, q_length_quantiles
    import pyspark.sql.functions as F

    sfd = "/root/testdata/sf0.01"
    exact = {r["lang"]: (r["p50"], r["p90"]) for r in q_length_quantiles(spark, sfd).collect()}
    approx = {
        r["lang"]: (r["a50"], r["a90"])
        for r in load_table(spark, sfd, "documents")
        .groupBy("lang")
        .agg(
            F.percentile_approx("n_chars", 0.5, 10000).alias("a50"),
            F.percentile_approx("n_chars", 0.9, 10000).alias("a90"),
        )
        .collect()
    }
    # 5%: small strata make the two rank DEFINITIONS differ by a couple
    # of ranks (exact uses the lower discrete rank (n-1)*k div 100;
    # percentile_approx targets the nearest rank) — that definitional
    # offset, not sketch error, dominates at n~70
    for lang, (p50, p90) in exact.items():
        a50, a90 = approx[lang]
        assert abs(a50 - p50) <= max(3, 0.05 * p50), (lang, a50, p50)
        assert abs(a90 - p90) <= max(3, 0.05 * p90), (lang, a90, p90)


# ---------------------------------------------------------------- SQL surface


def test_sql_api_surface_matches_dataframe(spark):
    """The engine is usable through plain spark.sql over registered
    views — same results as the DataFrame implementations (same
    Catalyst plans underneath; this pins the SQL front door works)."""
    import pyspark.sql.functions as F
    from crawlers_spark.queries import load_table, q_pricing_summary

    sfd = "/root/testdata/sf0.01"
    load_table(spark, sfd, "lineitem").createOrReplaceTempView("li_sql")
    got = {
        tuple(r)
        for r in spark.sql(
            """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_e2,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_e2,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS sum_disc_e4,
                   count(*) AS n
            FROM li_sql
            WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
            GROUP BY 1, 2
            """
        ).collect()
    }
    want = {tuple(r) for r in q_pricing_summary(spark, sfd).collect()}
    assert got == want and len(got) > 0


# -------------------------------------------------- prefix_sum property test


def test_prefix_sum_property(spark):
    """Property: for random (key, value) multisets at random parallelism
    and random loose bounds, the distributed scan equals the serial
    fold. Deterministic seeds (no Hypothesis Spark-session interplay:
    each example would pay a full Spark job, so we enumerate a fixed
    diverse set instead)."""
    import random

    from crawlers_spark.operators.packing import prefix_sum

    cases = []
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n = rng.randint(1, 150)
        rows = [
            (rng.randint(-50, 50), i, rng.randint(-5, 9)) for i in range(n)
        ]
        parts = rng.choice([1, 3, 16])
        lo = rng.randint(-200, -51)
        hi = rng.randint(51, 300)
        cases.append((rows, parts, rng.choice([None, (lo, hi)])))
    # leading keys over about -2^62..2^62 with the span past 2^63 (a
    # 64-bit key - lo overflows), with discovered and with given bounds
    rng = random.Random(3)
    wide = [(-(2**62) - 1, 0, 4), (2**62 + 1, 1, 2)] + [
        (rng.randint(-(2**62), 2**62), i, rng.randint(-5, 9)) for i in range(2, 120)
    ]
    cases += [(wide, 3, None), (wide, 3, (-(2**63), 2**63 - 1))]
    for rows, parts, bounds in cases:
        df = spark.createDataFrame(rows, "k long, tie long, v long").repartition(parts)
        out = prefix_sum(df, ["k", "tie"], "v", "offset", bounds=bounds)
        got = {(r["k"], r["tie"]): r["offset"] for r in out.collect()}
        acc, want = 0, {}
        for k, tie, v in sorted(rows):
            want[(k, tie)] = acc
            acc += v
        assert got == want, (parts, bounds)


# ------------------------------------------------- grouped-agg pandas UDAF


def test_grouped_agg_pandas_udaf_matches_sql_gini(spark):
    """UDAF surface: a GROUPED_AGG pandas_udf computing Gini equals the
    pure-SQL window/moment form (q_length_gini). Completes the U*F
    family alongside scalar Arrow UDFs, grouped/cogrouped kernels, and
    the UDTF; the SQL form stays the documented hot path."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from crawlers_spark.queries import load_table, q_length_gini

    sfd = "/root/testdata/sf0.01"

    # explicit functionType: this module uses `from __future__ import
    # annotations`, which turns the (pd.Series) -> float hints into
    # strings pandas_udf can't resolve here (see NOTES.md watch-outs)
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def gini_udaf(x):
        v = np.sort(x.to_numpy(np.float64))
        n = len(v)
        rk = np.arange(1, n + 1, dtype=np.float64)
        return round(2.0 * float((rk * v).sum()) / (n * float(v.sum()))
                     - (n + 1.0) / n, 6)

    got = {
        r["source"]: r["g"]
        for r in load_table(spark, sfd, "documents")
        .groupBy("source")
        .agg(gini_udaf("n_chars").alias("g"))
        .collect()
    }
    want = {r["source"]: r["gini_q6"] for r in q_length_gini(spark, sfd).collect()}
    assert set(got) == set(want)
    for s in want:
        assert abs(got[s] - want[s]) < 1e-9, s


# ------------------------------------------------------------ weighted draw


def test_weighted_sample_favors_heavy_weights_and_is_stable(spark):
    """A-ES hash-derandomized weighted sampling: the top-k by
    ln(u)/w must (a) over-select heavy weights roughly in proportion,
    (b) be a pure function of the ids — removing unselected rows must
    not change the selected set (subset stability, the property that
    makes the draw resumable over a growing corpus)."""
    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10 + 1).alias("w")
    )
    lane = "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"
    key = F.expr(
        f"ln((cast({lane} as double) + 1.0d) / cast({1 << 60} as double))"
        " / cast(w as double)"
    )
    keyed = df.select("doc_id", "w", key.alias("k"))
    top = keyed.orderBy(F.desc("k"), "doc_id").limit(200)
    rows = top.collect()
    mean_sel = sum(r["w"] for r in rows) / len(rows)
    mean_all = sum(range(1, 11)) / 10  # 5.5
    # weighted-inclusion pushes the selected mean toward
    # sum(w^2)/sum(w) = 7.0; without-replacement at a 10% draw dampens
    # it, so require a clear but not full shift above the uniform 5.5
    assert mean_sel > 1.1 * mean_all, f"selected mean weight {mean_sel}"
    n_heavy = sum(1 for r in rows if r["w"] == 10)
    n_light = sum(1 for r in rows if r["w"] == 1)
    assert n_heavy > 3 * max(n_light, 1), (n_heavy, n_light)

    sel_ids = {r["doc_id"] for r in rows}
    # subset stability: restrict the population to the selected ids plus
    # an arbitrary slice of the rest; the selected set must be unchanged
    subset = keyed.filter(
        F.col("doc_id").isin(*list(sel_ids)[:200]) | (F.col("doc_id") % 3 == 0)
    )
    rows2 = subset.orderBy(F.desc("k"), "doc_id").limit(200).collect()
    assert {r["doc_id"] for r in rows2} == sel_ids


# ------------------------------------------------- content-defined chunking


def _chunk_texts(spark, docs):
    from crawlers_spark.operators.dedup import cdc_chunks

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = cdc_chunks(df, divisor=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"]))
    return {d: [t for _i, t in sorted(v)] for d, v in by_doc.items()}


def test_cdc_chunks_resync_after_prepended_header(spark):
    """The load-bearing CDC property: prepending a header re-chunks at
    most the prefix up to the first boundary — every later chunk hashes
    identically, because boundaries depend only on each word's own
    hash. Fixed-stride chunking (every 8 words by position) shifts
    every chunk by construction, so the shared-tail signal is lost."""
    import hashlib

    words = [f"w{hashlib.md5(str(i).encode()).hexdigest()[:6]}" for i in range(80)]
    base = " ".join(words)
    mutant = "totally different header " + base
    chunks = _chunk_texts(spark, [(1, base), (2, mutant)])

    b, m = chunks[1], chunks[2]
    # all base chunks after the first are bit-identical in the mutant
    assert len(b) > 4
    assert set(b[1:]) <= set(m)
    # ...and the divergence is confined to the head
    shared = set(b) & set(m)
    assert len(shared) >= len(b) - 1

    # contrast: positional 8-word chunks share NOTHING after a 4-word
    # prepend (4 % 8 != 0 shifts every stride window)
    fixed_b = {" ".join(words[i:i + 8]) for i in range(0, 80, 8)}
    mwords = mutant.split(" ")
    fixed_m = {" ".join(mwords[i:i + 8]) for i in range(0, len(mwords), 8)}
    assert not (fixed_b & fixed_m)


def test_cdc_chunks_reconstruct_and_boundary_invariant(spark):
    """Chunks concatenated in chunk_id order reproduce the normalized
    text, and every non-final chunk ends with a boundary word
    (lane % 8 == 0) — no words lost, no boundary misplaced."""
    from crawlers_spark.operators.dedup import cdc_chunks

    text = "The quick BROWN fox   jumps over the lazy dog " * 12
    df = spark.createDataFrame([(7, text)], "doc_id long, text string")
    rows = sorted(cdc_chunks(df, divisor=8).collect(),
                  key=lambda r: r["chunk_id"])
    joined = " ".join(r["chunk_text"] for r in rows)
    norm = " ".join(text.lower().split())
    assert joined == norm
    assert [r["chunk_id"] for r in rows] == list(range(len(rows)))

    lane_df = spark.createDataFrame(
        [(r["chunk_text"].split(" ")[-1],) for r in rows[:-1]], "w string"
    ).selectExpr(
        "cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint) % 8 as m"
    )
    assert all(r["m"] == 0 for r in lane_df.collect())


# --------------------------------------------- frontier budget / freshness


def test_host_budget_allocation_sums_exactly(spark):
    """Largest-remainder allocation must hand out EXACTLY the effective
    budget min(B, total demand) — the invariant floating-point
    proportional shares cannot give — and no host is ever allocated
    more than its own pending demand."""
    from crawlers_spark.queries import q_host_budget_allocation

    out = q_host_budget_allocation(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    tot = sum(r["demand"] for r in rows)
    beff = min(1000, tot)
    assert sum(r["alloc"] for r in rows) == beff
    for r in rows:
        base = (beff * r["demand"]) // tot
        assert r["alloc"] in (base, base + 1)
        assert r["alloc"] <= r["demand"]


def _hamilton(spark, demands, B):
    import pyspark.sql.functions as F

    from crawlers_spark.operators.ranking import global_rank

    d = spark.createDataFrame(
        [(i + 1, dem) for i, dem in enumerate(demands)],
        "host_id long, demand long",
    )
    D = sum(demands)
    beff = min(B, D)
    j = d.select(
        "host_id", "demand",
        F.expr(f"({beff} * demand) DIV {D}").alias("base"),
        F.expr(f"({beff} * demand) % {D}").alias("rem"),
    )
    leftover = beff - sum(r["base"] for r in j.collect())
    ranked = global_rank(
        j.withColumn("neg_rem", -F.col("rem")),
        order_cols=["neg_rem", "host_id"], out_col="rk",
    )
    return {
        r["host_id"]: r["base"] + (1 if r["rk"] < leftover else 0)
        for r in ranked.collect()
    }


def test_host_budget_allocation_hand_case(spark):
    """Known Hamilton-method result: B=5 over demands 3/3/1 gives
    quotas 15/7, 15/7, 5/7 → bases 2/2/0, remainders 1/1/5 — the one
    leftover unit goes to host 3 (largest remainder)."""
    alloc = _hamilton(spark, [3, 3, 1], B=5)
    assert alloc == {1: 2, 2: 2, 3: 1}
    assert sum(alloc.values()) == 5


def test_host_budget_allocation_caps_at_demand(spark):
    """Budget above total demand must NOT mint phantom fetches: with
    3 hosts of demand 1 and B=1000, every host gets exactly its queue
    (effective budget = total demand)."""
    alloc = _hamilton(spark, [1, 1, 1], B=1000)
    assert alloc == {1: 1, 2: 1, 3: 1}


# ------------------------------------------------------- rendezvous sharding


def test_hrw_resize_moves_only_new_owners_hosts(spark):
    """THE property rendezvous hashing exists for: growing the worker
    pool from W to W+1 reassigns exactly the hosts whose new argmax IS
    the new worker (expected ~1/(W+1) of hosts); every other host keeps
    its owner. Mod-N sharding would move ~W/(W+1) of them. Uses the
    same md5-lane score law as the worker_assignment query."""

    def owners(n_workers):
        hosts = spark.range(0, 500).selectExpr("id AS host_id")
        cand = hosts.selectExpr(
            "host_id",
            f"explode(sequence(0, {n_workers - 1})) AS worker",
        ).selectExpr(
            "host_id",
            "worker",
            "cast(conv(substring(md5(concat(cast(host_id as string), '|',"
            " cast(worker as string))), 1, 15), 16, 10) as bigint) AS score",
        )
        from pyspark.sql import Window

        w = Window.partitionBy("host_id").orderBy(
            F.col("score").desc(), F.col("worker")
        )
        rows = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("host_id", "worker")
            .collect()
        )
        return {r.host_id: r.worker for r in rows}

    o8, o9 = owners(8), owners(9)
    moved = {h for h in o8 if o8[h] != o9[h]}
    # every moved host moved TO the new worker, never between old ones
    assert all(o9[h] == 8 for h in moved)
    # and the moved fraction is ~1/9 (binomial bounds, p<1e-9 margins)
    assert 20 <= len(moved) <= 110, len(moved)


# ------------------------------------------------- image canonical dedup law


def test_image_canonical_dedup_collapses_format_variants(spark):
    """Every page emitted as two container variants: raw md5 must see
    them all as distinct, canonical-re-encode md5 must collapse each
    pair back to one pixel image."""
    from crawlers_spark.queries import q_image_canonical_dedup

    r = q_image_canonical_dedup(spark, "/root/testdata/sf0.001").collect()[0]
    assert r.n_variant_rows == 2 * r.n_canon_distinct
    assert r.n_raw_distinct == r.n_variant_rows
    assert r.n_dups_recovered == r.n_canon_distinct


def test_crawl_to_multimodal_corpus_funnel_monotone(spark):
    """The multimodal admission funnel can only narrow: per host,
    admitted <= unique <= fetched, and the crawl admits something."""
    from crawlers_spark.queries import q_crawl_to_multimodal_corpus

    rows = q_crawl_to_multimodal_corpus(spark, "").collect()
    assert rows
    for r in rows:
        assert r.n_admitted <= r.n_unique <= r.n_fetched, r
        assert (r.n_admitted == 0) == (r.caption_tokens == 0)
    assert sum(r.n_admitted for r in rows) > 0
