"""Unit tests for the pure numpy/pandas kernels (no Spark)."""

import numpy as np
import pandas as pd
import pytest

from crawlers_spark.functions.hashing import fnv64, pmod_bucket, splitmix64
from crawlers_spark.functions.images import (
    phash64, png_decode, png_encode, ppm_decode, ppm_encode, psnr, quantize, synth_image,
)
from crawlers_spark.functions.urls import canon_urls, url_host
from crawlers_spark.operators.seen_set import (
    BloomParams, bloom_build_blob, bloom_test_blob,
)
from crawlers_spark.sources.synthweb import (
    SynthWebConfig, fetch_pages_pdf, make_seed_urls, page_specs, parse_page_urls,
    seed_urls_arr, seed_urls_pdf,
)
from seed_url_oracle import seed_urls_pd


class TestHashing:
    def test_deterministic(self):
        s = pd.Series(["abc", "abd", "", "abc"])
        h = fnv64(s)
        assert h[0] == h[3] and h[0] != h[1]
        assert (fnv64(s) == h).all()

    def test_padding_no_collision(self):
        # "a" vs "a\x00"-like padding must not collide
        h = fnv64(pd.Series(["a", "a" + "\x00"]))
        assert h[0] != h[1]

    def test_distribution(self):
        n = 20000
        h = fnv64(pd.Series([f"http://h{i}.test/p/{i*7}" for i in range(n)]))
        assert len(np.unique(h)) == n
        buckets = pmod_bucket(h, 64)
        counts = np.bincount(buckets, minlength=64)
        assert counts.min() > n / 64 * 0.7 and counts.max() < n / 64 * 1.3

    def test_splitmix_avalanche(self):
        x = np.arange(1000, dtype=np.uint64)
        y = splitmix64(x)
        assert len(np.unique(y)) == 1000


CANON_CASES = [
    ("HTTP://WWW.Example.COM:80/a/b#frag", "http://example.com/a/b"),
    ("https://example.com:443/a/", "https://example.com/a"),
    ("https://example.com:8443/a", "https://example.com:8443/a"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com/x/../y/./z", "http://example.com/y/z"),
    ("http://example.com/p?utm_source=x&b=2&a=1", "http://example.com/p?a=1&b=2"),
    ("http://example.com/p?utm_source=x&utm_b=1", "http://example.com/p"),
    ("http://example.com./p/", "http://example.com/p"),
    ("  http://example.com/p  ", "http://example.com/p"),
    ("http://example.com//a///b", "http://example.com/a/b"),
]


class TestCanon:
    @pytest.mark.parametrize("raw,expected", CANON_CASES)
    def test_cases(self, raw, expected):
        assert canon_urls(pd.Series([raw])).iloc[0] == expected

    def test_batch_matches_single(self):
        raws = pd.Series([r for r, _ in CANON_CASES])
        batch = canon_urls(raws)
        for i, (_, expected) in enumerate(CANON_CASES):
            assert batch.iloc[i] == expected

    def test_idempotent(self):
        once = canon_urls(pd.Series([r for r, _ in CANON_CASES]))
        twice = canon_urls(once)
        assert (once == twice).all()

    def test_host(self):
        assert url_host(pd.Series(["http://a.b.test:8080/x?q=1"])).iloc[0] == "a.b.test"


class TestImages:
    def test_png_roundtrip(self):
        px = synth_image(99, 64, 32)
        assert (png_decode(png_encode(px)) == px).all()

    def test_ppm_roundtrip(self):
        px = synth_image(7, 32, 128)
        assert (ppm_decode(ppm_encode(px)) == px).all()

    def test_quantize_psnr_above_40(self):
        for seed in [1, 12345, 999999]:
            px = synth_image(seed, 128, 128)
            assert psnr(px, quantize(px)) >= 40.0

    def test_phash_deterministic_and_discriminative(self):
        a, b = synth_image(1, 64, 64), synth_image(2, 64, 64)
        assert phash64(a) == phash64(a)
        assert phash64(a) != phash64(b)

    def test_synth_deterministic(self):
        assert (synth_image(5, 32, 32) == synth_image(5, 32, 32)).all()


class TestBloom:
    def test_no_false_negatives(self):
        params = BloomParams.size_for(5000, fpp=0.01, n_buckets=1)
        keys = fnv64(pd.Series([f"u{i}" for i in range(5000)]))
        blob = bloom_build_blob(keys, params)
        assert bloom_test_blob(keys, blob, params).all()

    def test_fpr_bounded(self):
        params = BloomParams.size_for(5000, fpp=0.01, n_buckets=1)
        keys = fnv64(pd.Series([f"u{i}" for i in range(5000)]))
        blob = bloom_build_blob(keys, params)
        probe = fnv64(pd.Series([f"v{i}" for i in range(20000)]))
        fpr = bloom_test_blob(probe, blob, params).mean()
        assert fpr < 0.03, fpr

    def test_empty_blob(self):
        params = BloomParams()
        assert not bloom_test_blob(np.array([1, 2], np.int64), None, params).any()


class TestSynthWeb:
    def test_seed_variants_canonicalize(self):
        cfg = SynthWebConfig()
        seeds = make_seed_urls(cfg, 500)
        canon = canon_urls(seeds["url"])
        hi, _ = parse_page_urls(canon)
        assert (hi >= 0).all()

    def test_seed_urls_match_pandas_oracle(self):
        cfg = SynthWebConfig(n_hosts=37, base_pages=90, seed=7)
        # sparse, unsorted and huge ranks reach every variant and host
        rank = np.concatenate([
            np.arange(200), np.arange(10**12, 10**12 + 55)[::-1], [2**62, 0, 3],
        ]).astype(np.int64)
        want = seed_urls_pd(cfg, rank)
        got = seed_urls_pdf(cfg, rank)
        assert got["url"].tolist() == want["url"].tolist()
        assert (got["seed_rank"].to_numpy() == rank).all()
        assert seed_urls_arr(cfg, rank).to_pylist() == want["url"].tolist()
        assert set(rank % 5) == set(range(5))
        empty = seed_urls_pdf(cfg, rank[:0])
        assert list(empty.columns) == ["url", "seed_rank"] and len(empty) == 0

    def test_fetch_deterministic(self):
        cfg = SynthWebConfig()
        canon = canon_urls(make_seed_urls(cfg, 50)["url"])
        a, b = fetch_pages_pdf(cfg, canon), fetch_pages_pdf(cfg, canon)
        assert (a["caption"] == b["caption"]).all()
        assert (a["phash"] == b["phash"]).all()

    def test_mirror_lossy_within_psnr(self):
        from crawlers_spark.functions.images import decode_image

        cfg = SynthWebConfig()
        canon = canon_urls(make_seed_urls(cfg, 120)["url"]).drop_duplicates()
        mirrored = fetch_pages_pdf(cfg, canon, mirror=True)
        pristine = fetch_pages_pdf(cfg, canon, mirror=False)
        checked = 0
        for i in range(len(mirrored)):
            if not mirrored["ok"].iloc[i]:
                continue
            fmt = mirrored["fmt"].iloc[i]
            m = decode_image(mirrored["bytes"].iloc[i], fmt)
            p = decode_image(pristine["bytes"].iloc[i], fmt)
            if fmt == "ppm":
                assert psnr(p, m) >= 40.0
                checked += 1
            else:
                assert (p == m).all()
        assert checked > 0  # lossy path exercised


class TestHashBandPairs:
    """hash_band_pairs recall: complete for hamming <= k (pigeonhole over
    k+1 disjoint bands) — zero false negatives vs brute force."""

    def test_zero_false_negatives_vs_bruteforce(self, spark):
        import itertools

        import numpy as np

        from crawlers_spark.operators.dedup import hash_band_pairs

        rng = np.random.default_rng(7)
        base = rng.integers(-(2**63), 2**63 - 1, size=40, dtype=np.int64)
        rows = [(f"id{i:03d}", int(h)) for i, h in enumerate(base)]
        # perturb: for each of 20 bases, add a mutant at hamming 1..7
        # (random bit positions, possibly spread across every band) —
        # radius 7 is the 8x8-bit banding lane the phash-recompression
        # drift finding names as the wide-radius production fix
        for i in range(20):
            bits = rng.choice(64, size=int(rng.integers(1, 8)), replace=False)
            m = int(base[i])
            for b in bits:
                m ^= 1 << int(b)
            rows.append((f"mut{i:03d}", np.int64(m).item()))

        df = spark.createDataFrame(rows, "image_id string, phash long")
        for k in (1, 3, 7):
            got = {
                (r["id_a"], r["id_b"])
                for r in hash_band_pairs(df, "image_id", "phash", k).collect()
            }
            want = set()
            for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
                if bin((ha ^ hb) & (2**64 - 1)).count("1") <= k:
                    want.add((min(ia, ib), max(ia, ib)))
            assert want <= got, f"k={k}: missed {want - got}"
            assert got == want, f"k={k}: extra {got - want}"


class TestEmbeddingNearDups:
    """SRP-LSH near-dups: auto-sized buckets + multi-probe recall vs
    brute force; exact verification means precision is always 1."""

    def test_bits_sizing(self):
        from crawlers_spark.operators.similarity import near_dup_bits_for

        assert near_dup_bits_for(100) == 4
        assert near_dup_bits_for(256 * 16) == 4
        assert near_dup_bits_for(10**6) == 12
        assert near_dup_bits_for(10**10) == 26

    def test_recall_vs_bruteforce(self, spark):
        import itertools

        import numpy as np

        from crawlers_spark.operators.similarity import embedding_near_dups

        rng = np.random.default_rng(11)
        dim, n_base = 16, 60
        base = rng.standard_normal((n_base, dim))
        rows = [(f"v{i:03d}", [float(x) for x in base[i]]) for i in range(n_base)]
        # plant near-dups: tiny perturbations of the first 15 vectors
        for i in range(15):
            m = base[i] + 0.05 * rng.standard_normal(dim)
            rows.append((f"m{i:03d}", [float(x) for x in m]))

        def cos(a, b):
            a, b = np.asarray(a), np.asarray(b)
            return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

        thr = 0.95
        want = {
            (min(ia, ib), max(ia, ib))
            for (ia, va), (ib, vb) in itertools.combinations(rows, 2)
            if cos(va, vb) >= thr
        }
        assert len(want) >= 15  # the planted pairs are really above thr

        df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        got = {
            (r["id_a"], r["id_b"])
            for r in embedding_near_dups(df, dim=dim, threshold=thr).collect()
        }
        assert got <= want  # exact verification: no false positives
        recall = len(got & want) / len(want)
        assert recall >= 0.8, f"recall {recall:.2f} (missed {want - got})"


class TestShingleCandidates:
    """Document-frequency cap bounds the hot-shingle quadratic blowup."""

    def test_skewed_corpus_bounded(self, spark):
        import pandas as pd

        from crawlers_spark.operators.dedup import (
            shingle_candidate_pairs,
            word_shingles,
        )

        n = 200
        # every doc shares the hot 3-gram "the quick fox"; all other
        # shingles are unique per doc
        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(n),
            "text": [f"the quick fox doc{i} alpha{i} beta{i}" for i in range(n)],
        }))
        sh = word_shingles(docs, "text", "doc_id", k=3)
        uncapped = shingle_candidate_pairs(sh, "doc_id", df_cap=10**9).count()
        capped = shingle_candidate_pairs(sh, "doc_id", df_cap=64).count()
        assert uncapped == n * (n - 1) // 2  # quadratic in the hot shingle
        assert capped == 0  # the cap removes the blowup entirely

    def test_cap_no_op_below_threshold(self, spark):
        import pandas as pd

        from crawlers_spark.operators.dedup import (
            shingle_candidate_pairs,
            word_shingles,
        )

        docs = spark.createDataFrame(pd.DataFrame({
            "doc_id": range(20),
            "text": [f"common prefix words doc{i} tail{i % 4}" for i in range(20)],
        }))
        sh = word_shingles(docs, "text", "doc_id", k=3)
        a = {(r["id_a"], r["id_b"]) for r in shingle_candidate_pairs(sh, "doc_id", 64).collect()}
        b = {(r["id_a"], r["id_b"]) for r in shingle_candidate_pairs(sh, "doc_id", 10**9).collect()}
        assert a == b  # df <= 20 < cap: identical candidates


class TestIvfTopk:
    """IVF ANN: multi-probe recall vs the exact brute-force baseline."""

    def test_recall_vs_bruteforce(self, spark):
        import numpy as np

        from crawlers_spark.operators.similarity import cosine_topk, ivf_topk

        rng = np.random.default_rng(3)
        # clustered data so the coarse quantizer has structure to learn
        centers = rng.standard_normal((6, 16)) * 3
        rows = []
        for i in range(240):
            c = centers[i % 6]
            rows.append((f"v{i:03d}", [float(x) for x in c + rng.standard_normal(16)]))
        data = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        queries = spark.createDataFrame(
            [(r[0], r[1]) for r in rows[:5]], "query_id string, embedding array<double>"
        )
        exact = cosine_topk(data, queries, k=10)
        approx = ivf_topk(data, queries, dim=16, k=10, n_cells=8, nprobe=3)
        e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
        recall = len(a & e) / len(e)
        assert recall >= 0.8, f"IVF recall {recall:.2f}"


def test_fnv64_lanes_bit_identical_to_two_calls():
    from crawlers_spark.functions.hashing import fnv64, fnv64_lanes

    s = pd.Series(
        ["", "a", "http://x.test/a?q=1", "u" * 300, None, "ü中" * 40],
        index=[9, 3, 7, 1, 0, 5],  # non-default index must not matter
    )
    l1, l2 = fnv64_lanes(s, seed2=0x1D8AF6C7)
    assert (l1 == fnv64(s)).all()
    assert (l2 == fnv64(s, seed=0x1D8AF6C7)).all()
    assert (l1 != l2).all()  # independent lanes
