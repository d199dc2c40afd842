"""Driver-contract replica: every queries() entry vs its DuckDB oracle.

Mimics the driver's CORRECTNESS gate at small scale: run the Spark query
and the oracle SQL on the same parquet tables, compare row count, column
names (sorted), and an order-insensitive value hash. Rows-only queries
are smoke-checked for schema stability and (where expected) rows > 0.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from crawlers_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

ORACLE_NAMES = [n for n, (_f, sql) in QUERIES.items() if sql is not None]
ROWS_ONLY_NAMES = [n for n, (_f, sql) in QUERIES.items() if sql is None]


def _canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # bit-exact, type-sensitive: repr keeps 615.0 != 615, mirroring the
        # driver hash (r1 lesson: %.6g masked DuckDB HUGEINT->float64 drift)
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x01".join(_canon_cell(r[i]) for i in order))
    return sorted(out)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    fn, sql = QUERIES[name]
    sdf = fn(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns

    cur = ddb.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    s_canon = _canon_rows(scols, [[r[c] for c in scols] for r in srows])
    o_canon = _canon_rows(ocols, orows)
    mism = [i for i, (a, b) in enumerate(zip(s_canon, o_canon)) if a != b]
    assert not mism, f"{name}: {len(mism)} mismatched rows; first: " \
        f"spark={s_canon[mism[0]]!r} oracle={o_canon[mism[0]]!r}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_query_runs(spark, name):
    fn, _ = QUERIES[name]
    df = fn(spark, SF_DIR)
    rows = df.collect()
    assert df.columns, name
    if name in ("dedup_minhash_lsh", "crawl_pages_by_host", "crawl_schedule",
                "image_decode_stats", "dedup_simhash", "phash_clusters",
                "image_embed_near_dups"):
        assert len(rows) > 0, f"{name}: expected rows"


def test_phash_drift_report_invariants(spark):
    """The recompression-drift report's structural invariants: the step-1
    identity lane has zero drift (stored phash == rehash of decoded
    bytes), drift is monotone in quantization step, and mild steps stay
    visually identical (PSNR >= 35 dB) even where hash bits move."""
    fn, _ = QUERIES["phash_recompression_drift"]
    rows = {(r["fmt"], r["step"]): r for r in fn(spark, SF_DIR).collect()}
    assert rows, "expected per-(fmt, step) rows"
    fmts = {f for f, _ in rows}
    for f in fmts:
        assert rows[(f, 1)]["sum_hamming"] == 0, "identity lane must not drift"
        assert rows[(f, 1)]["max_hamming"] == 0
        assert rows[(f, 8)]["sum_hamming"] <= rows[(f, 64)]["sum_hamming"]
        assert rows[(f, 8)]["min_psnr_e2"] >= 3500
        n = rows[(f, 8)]["n_images"]
        assert rows[(f, 1)]["n_within_3"] == n


def test_entry_contract(spark):
    df = entry_mod.entry(spark)
    assert len(df.collect()) > 0
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 25


def test_driver_window_curated():
    """The driver's CORRECTNESS gate grades the FIRST 50 queries() entries;
    DRIVER_WINDOW curates that window (VERDICT r4 item #2). Pin: exactly 50
    names, all registered, queries() leads with them in order, and the
    image-dedup family is inside the window."""
    from crawlers_spark.queries import DRIVER_WINDOW

    assert len(DRIVER_WINDOW) == 50
    assert len(set(DRIVER_WINDOW)) == 50
    assert set(DRIVER_WINDOW) <= set(QUERIES)
    q = entry_mod.queries()
    assert list(q)[:50] == DRIVER_WINDOW
    assert len(q) == len(QUERIES)
    for name in (
        "phash_near_dups",
        "phash_clusters",
        "image_embed_near_dups",
        "image_decode_stats",
        "span_dup_fraction",
        "crawl_pages_by_host",
    ):
        assert name in DRIVER_WINDOW


def test_doc_repetition_short_docs_edge(spark, tmp_path):
    """Docs shorter than the gram widths (1, 2, 4 words) must not crash
    (sequence(0, size-k) goes descending => ANSI array-index error
    without the size guard) and must match the oracle's empty-gram
    semantics exactly."""
    import pandas as pd

    from crawlers_spark.queries import QUERIES

    pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["solo", "two words", "a b a b", "w x y z w x y z w x"],
    }).to_parquet(str(tmp_path / "documents.parquet"))

    fn, sql = QUERIES["doc_repetition"]
    srows = {r["doc_id"]: r.asDict() for r in fn(spark, str(tmp_path)).collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    orows = {r[cols.index("doc_id")]: dict(zip(cols, r)) for r in cur.fetchall()}
    con.close()

    assert set(srows) == {1, 2, 3, 4} and set(orows) == {1, 2, 3, 4}
    for d in srows:
        for c in cols:
            assert srows[d][c] == orows[d][c], (d, c, srows[d][c], orows[d][c])
    assert srows[1]["top_bigram"] is None  # no bigram in a 1-word doc
    assert srows[2]["dup_5gram_char_score"] == 0.0


def test_politeness_audit_single_fetch_host_edge(spark, tmp_path):
    """A host with exactly one fetch has only NULL gaps: its violation
    count must be 0 (coalesced) in BOTH engines, and min_gap_us NULL —
    a latent Spark-NULL vs oracle-0 divergence that the standard SF
    corpora never trigger (every host there has >=2 events)."""
    import datetime

    import pandas as pd

    from crawlers_spark.queries import QUERIES

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    df = pd.DataFrame({
        "event_id": [1, 2, 3],
        "ts": [t0, t0 + datetime.timedelta(milliseconds=100), t0],
        "user_id": [7, 7, 42],  # host 42: single fetch
        "event_type": ["view", "view", "view"],
        "value": [1.0, 1.0, 1.0],
        "props": ["{}", "{}", "{}"],
    })
    df["ts"] = df["ts"].astype("datetime64[us]")  # Spark rejects NANOS parquet
    df.to_parquet(str(tmp_path / "events.parquet"))

    fn, sql = QUERIES["politeness_audit"]
    srows = {r["host_id"]: r.asDict() for r in fn(spark, str(tmp_path)).collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    orows = {r[cols.index("host_id")]: dict(zip(cols, r)) for r in cur.fetchall()}
    con.close()

    assert set(srows) == {7, 42} and srows == orows
    assert srows[42]["n_violations"] == 0
    assert srows[42]["min_gap_us"] is None
    # host 7: 100 ms gap < its 1000 ms delay (500+250*(7%5)) => one violation
    assert srows[7]["n_violations"] == 1


SWEEP_SKIP_PREFIXES = ("crawl", "image", "phash")

# The six whole-registry pathology sweeps each re-run every oracle query
# (about 250) in both engines. The DEFAULT suite skips them so
# `pytest tests/` stays inside its timeout (VERDICT r4 item #7); run the
# full sweeps before each commit batch with
# ``SPARK_GRAFT_SWEEPS=1 python -m pytest tests/test_queries_oracle.py``.
full_sweep = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SWEEPS", "0") != "1",
    reason="whole-registry sweep; set SPARK_GRAFT_SWEEPS=1 (run before commit batches)",
)


def _run_registry_sweep(spark, tmp_path, mutate):
    """Shared pathology-sweep harness: rewrite the sf0.001 corpus through
    ``mutate(df, table_name)`` into tmp_path, then run EVERY oracle query
    in both engines and compare row counts, sorted column names, and the
    order-insensitive canonical VALUES (same comparison as the main
    oracle gate — a divergence in any cell fails, not just a count)."""
    import duckdb as _duck

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path)
    for t in TABLES:
        df = mutate(spark.read.parquet(f"{src}/{t}.parquet"), t)
        df.coalesce(1).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    con = _duck.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet/*.parquet'"
        )
    failures = []
    for name, (fn, sql) in QUERIES.items():
        if sql is None or name.startswith(SWEEP_SKIP_PREFIXES):
            continue
        try:
            sdf = fn(spark, dst)
            srows = sdf.collect()
            scols = sdf.columns
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001 — collecting a report
            failures.append((name, str(e).splitlines()[0][:120]))
            continue
        if sorted(scols) != sorted(ocols):
            failures.append((name, "column names differ"))
            continue
        if len(srows) != len(orows):
            failures.append((name, f"rows {len(srows)} != {len(orows)}"))
            continue
        s_canon = _canon_rows(scols, [[r[c] for c in scols] for r in srows])
        o_canon = _canon_rows(ocols, orows)
        if s_canon != o_canon:
            bad = sum(1 for a, b in zip(s_canon, o_canon) if a != b)
            failures.append((name, f"{bad} value-mismatched rows"))
    con.close()
    assert not failures, failures


@full_sweep
def test_all_oracle_queries_tolerate_empty_corpus(spark, tmp_path):
    """Whole-registry robustness sweep on a fully EMPTY corpus (correct
    schemas, 0 rows) — the guard that surfaced the DuckDB-UNPIVOT-
    drops-NULLs, ROLLUP-grand-total-on-empty, and pagerank
    ZeroDivisionError edges."""
    _run_registry_sweep(spark, tmp_path, lambda df, t: df.limit(0))


@full_sweep
def test_all_oracle_queries_tolerate_null_payloads(spark, tmp_path):
    """Whole-registry dirty-data sweep with every PAYLOAD column NULL
    (keys intact) — surfaced incremental_dedup's NULL-fingerprint
    anti-join vs NOT-IN divergence."""
    from pyspark.sql import functions as F

    null_cols = {
        "documents": ["text", "lang", "source"],
        "events": ["event_type", "props", "value"],
        "customer": ["c_comment", "c_mktsegment"],
    }

    def mutate(df, t):
        for c in null_cols.get(t, []):
            if c in df.columns:
                df = df.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
        return df

    _run_registry_sweep(spark, tmp_path, mutate)


@full_sweep
def test_all_oracle_queries_tolerate_maximal_skew(spark, tmp_path):
    """Whole-registry skew sweep: 100% duplicate document text and ONE
    mega-host owning every event — the pathology the salted/df-capped
    scale paths exist for."""
    from pyspark.sql import functions as F

    def mutate(df, t):
        if t == "documents":
            df = df.withColumn(
                "text",
                F.lit(
                    "the same exact document text repeated verbatim in"
                    " every row of this corpus"
                ),
            )
        if t == "events":
            df = df.withColumn("user_id", F.lit(7))
        return df

    _run_registry_sweep(spark, tmp_path, mutate)


@full_sweep
def test_all_oracle_queries_tolerate_unicode_text(spark, tmp_path):
    """Whole-registry Unicode sweep: accents, emoji, CJK, sharp-s,
    ligatures injected into every document and event_type. Excludes the
    documented Java-vs-utf8proc case-folding divergences (see
    test_lowercase_folding_boundary)."""
    from pyspark.sql import functions as F

    uni = "Ünïcodé ÉMOJI 😀 中文 test Istanbul STRASSE ß groß ẞharp ﬁligature"

    def mutate(df, t):
        if t == "documents":
            df = df.withColumn("text", F.concat(F.lit(uni + " "), F.col("text")))
        if t == "events":
            df = df.withColumn(
                "event_type", F.concat(F.lit("é😀"), F.col("event_type"))
            )
        return df

    _run_registry_sweep(spark, tmp_path, mutate)


def test_lowercase_folding_boundary(spark):
    """The documented cross-engine oracle-comparability boundary: Java
    (Spark) implements Unicode SpecialCasing in lower() — dotted
    capital I (U+0130) gains a combining dot, word-final capital sigma
    becomes ς — while DuckDB's utf8proc uses simple 1:1 mappings. Any
    oracle query that lowercases corpus text diverges on text
    containing exactly these; the driver corpora are ASCII, so the
    correctness gate is unaffected. This test pins the boundary so a
    future engine upgrade that CLOSES it gets noticed."""
    cases = {"İ": ("i̇", "i"), "ΟΣ": ("ος", "οσ")}
    for src_txt, (want_spark, want_duck) in cases.items():
        got_s = spark.sql(f"SELECT lower('{src_txt}') AS l").collect()[0].l
        got_d = duckdb.sql(f"SELECT lower('{src_txt}')").fetchone()[0]
        assert got_s == want_spark, (src_txt, got_s)
        assert got_d == want_duck, (src_txt, got_d)
    # third boundary: Java's \s matches vertical tab U+000B, RE2's
    # (DuckDB) does not — text containing VT diverges under any \s+
    # normalization; driver corpora contain none
    from pyspark.sql import functions as F

    vt = "a\x0bb"  # contains a real vertical tab
    df = spark.createDataFrame([(vt,)], "t string")
    sv = df.select(F.regexp_replace("t", r"\s+", " ").alias("r")).collect()[0].r
    dv = duckdb.execute(
        "SELECT regexp_replace(?, '\\s+', ' ', 'g')", [vt]
    ).fetchone()[0]
    assert sv == "a b" and dv == vt, (sv, dv)


def test_metric_qc_counts_dirty_values_cross_engine(spark, tmp_path):
    """The metric gate's real proof: on a corpus seeded with NaN/±Inf
    values (which crash the fixed-point lanes fail-fast in BOTH
    engines), metric_qc counts every pathology exactly and agrees
    cross-engine."""
    import duckdb as _duck

    from pyspark.sql import functions as F

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path)
    for t in TABLES:
        df = spark.read.parquet(f"{src}/{t}.parquet")
        if t == "events":
            df = df.withColumn(
                "value",
                F.when(F.col("event_id") % 17 == 0, F.lit(float("nan")))
                .when(F.col("event_id") % 23 == 0, F.lit(float("inf")))
                .when(F.col("event_id") % 29 == 0, F.lit(float("-inf")))
                .when(F.col("event_id") % 31 == 0, F.lit(None).cast("double"))
                .otherwise(F.col("value")),
            )
        df.coalesce(1).write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    fn, sql = QUERIES["metric_qc"]
    srows = {r["event_type"]: r.asDict() for r in fn(spark, dst).collect()}
    con = _duck.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{dst}/{t}.parquet/*.parquet'"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    orows = {r[cols.index("event_type")]: dict(zip(cols, r)) for r in cur.fetchall()}
    con.close()
    assert srows == orows
    tot = {k: sum(r[k] for r in srows.values())
           for k in ("n_nan", "n_pinf", "n_ninf", "n_null")}
    assert all(v > 0 for v in tot.values()), tot
    # exact counts from the seeding law over event ids
    n = spark.read.parquet(f"{dst}/events.parquet").count()
    assert tot["n_nan"] == sum(1 for i in range(n) if i % 17 == 0)
    assert tot["n_pinf"] == sum(1 for i in range(n) if i % 17 and i % 23 == 0)


@full_sweep
def test_all_oracle_queries_parallelism_deterministic(spark):
    """North-rule property sweep: every oracle query's canonical result
    is IDENTICAL at 32 vs 3 shuffle partitions — no partition-order-
    dependent first()/limit/collect anywhere in the registry (floats
    are repr-compared, so even summation-order ulp drift would fail)."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "3")
    failures = []
    for name, (fn, sql) in QUERIES.items():
        if sql is None or name.startswith(SWEEP_SKIP_PREFIXES):
            continue
        d1 = fn(spark, SF_DIR)
        d2 = fn(s2, SF_DIR)
        c1 = _canon_rows(d1.columns, [[r[c] for c in d1.columns] for r in d1.collect()])
        c2 = _canon_rows(d2.columns, [[r[c] for c in d2.columns] for r in d2.collect()])
        if c1 != c2:
            bad = sum(1 for a, b in zip(c1, c2) if a != b)
            failures.append((name, f"{bad} rows differ across parallelism"))
    assert not failures, failures


@full_sweep
def test_all_oracle_queries_tolerate_megadoc(spark, tmp_path):
    """Whole-registry size-outlier sweep: ONE ~200 KB document (doc 0's
    text repeated 1600x — same vocabulary, so the stress is pure string
    size) among normal rows. Guards every regexp/explode/shingle lane
    against the long-tail page a real crawl always contains; all
    pairing/shingle stages must stay df-capped rather than blowing up
    on the outlier's token count."""
    from pyspark.sql import functions as F

    def mutate(df, t):
        if t == "documents":
            big = F.repeat(F.coalesce(F.col("text"), F.lit("x ")), 1600)
            df = df.withColumn(
                "text",
                F.when(F.col("doc_id") == 0, big).otherwise(F.col("text")),
            ).withColumn(
                "n_chars",
                F.when(F.col("doc_id") == 0, F.length(big))
                .otherwise(F.col("n_chars")).cast("long"),
            )
        return df

    _run_registry_sweep(spark, tmp_path, mutate)
