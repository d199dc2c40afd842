"""Deterministic synthetic web: the fetch target for tests and benches.

Every page is a pure function of its canonical URL (via fnv64), so the
Spark ``mapInPandas`` fetch stage and the serial reference oracle observe
the *identical* web with no shared state: same link graph, same image
pixels, same captions, same failures.

Shape mirrors the reference's world: Zipf-skewed hosts (each reference
crawler file is one mega-host — perfectly skewed), pages carrying an
image + caption (asset rows with imageUrl+description,
/root/reference/nft/get_opensea_v1.1.py:271-276), cursor-like fan-out
(each page links to 0-4 more pages, cf. cursor loops
/root/reference/twitter/get_user_tweets.py:58-125), deterministic fetch
failures (alert path /root/reference/utils/dingding.py:11-33), and a
lossy CDN mirror for a subset of formats
(/root/reference/utils/qiniu_upload.py:19-43).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..functions.hashing import fnv64, splitmix64
from ..functions.images import QUANT_STEP, encode_image, phash64, quantize, synth_image

_U64 = np.uint64


@dataclass(frozen=True)
class SynthWebConfig:
    """Deterministic web parameters (seed baked into the hash space)."""

    n_hosts: int = 40
    base_pages: int = 400  # pages of host 0; host i gets base/(i+1)^skew
    skew: float = 0.8
    max_links: int = 4
    cross_host_pct: int = 30  # % of links that jump hosts
    private_mod: int = 13  # pages with h%private_mod==0 live under /private
    fail_mod: int = 97  # pages with h%fail_mod==0 fail to fetch
    # when >0: an otherwise-ok page fails transiently on attempt a iff
    # splitmix64(seed ^ (a+1)*SALT) % transient_fail_mod == 0 — attempt-
    # dependent, so a bounded retry policy eventually succeeds
    # (reference analog: reconnect loops,
    # /root/reference/worldcup/db/connect_mysql.py:21,50)
    transient_fail_mod: int = 0
    seed: int = 42

    def pages_per_host(self) -> np.ndarray:
        i = np.arange(self.n_hosts, dtype=np.float64)
        return np.maximum(1, (self.base_pages / (i + 1.0) ** self.skew)).astype(np.int64)


def host_name(idx: np.ndarray | int) -> np.ndarray | str:
    if np.isscalar(idx):
        return f"host{idx:04d}.test"
    a = np.asarray(idx, np.int64)
    # Arrow path: cast→lpad→join over contiguous buffers (utf8_lpad pads
    # the sign too, unlike zfill, so negatives take the pandas path —
    # only parse-failure rows ever carry -1)
    if len(a) and a.min() >= 0:
        s = pc.utf8_lpad(pc.cast(pa.array(a), pa.string()), 4, "0")
        return pc.binary_join_element_wise("host", s, ".test", "").to_numpy(
            zero_copy_only=False
        )
    s = pd.Series(a)
    return ("host" + s.astype(str).str.zfill(4) + ".test").to_numpy()


def _page_seed(cfg: SynthWebConfig, host_idx: np.ndarray, page_idx: np.ndarray) -> np.ndarray:
    """Stable per-page seed, independent of URL spelling."""
    mix = (
        np.asarray(host_idx, np.int64).view(_U64) * _U64(0x9E3779B97F4A7C15)
        ^ np.asarray(page_idx, np.int64).view(_U64)
        ^ _U64(cfg.seed)
    )
    return splitmix64(mix)


def page_urls(cfg: SynthWebConfig, host_idx: np.ndarray, page_idx: np.ndarray) -> np.ndarray:
    """Canonical URL of page (host_idx, page_idx); /private for a subset."""
    seeds = _page_seed(cfg, host_idx, page_idx)
    private = (seeds % _U64(cfg.private_mod)) == 0
    hosts = pa.array(host_name(host_idx), pa.string())
    pages = pc.cast(pa.array(np.asarray(page_idx, np.int64)), pa.string())
    prefix = pc.if_else(pa.array(private), "/private/p/", "/p/")
    return pc.binary_join_element_wise(
        "http://", hosts, prefix, pages, ""
    ).to_numpy(zero_copy_only=False)


def parse_page_urls(urls: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of :func:`page_urls` for canonical URLs -> (host_idx, page_idx)."""
    ext = urls.str.extract(r"^http://host(\d{4})\.test(?:/private)?/p/(\d+)$")
    host_idx = pd.to_numeric(ext[0], errors="coerce").fillna(-1).astype(np.int64).to_numpy()
    page_idx = pd.to_numeric(ext[1], errors="coerce").fillna(-1).astype(np.int64).to_numpy()
    return host_idx, page_idx


def page_specs(
    cfg: SynthWebConfig, urls: pd.Series, attempt: np.ndarray | None = None
) -> pd.DataFrame:
    """Vectorized page metadata for a batch of canonical URLs.

    Columns: host_idx, page_idx, seed, ok (fetch success), w, h, fmt,
    caption, links (list of canonical child URLs, possibly empty).
    ``attempt`` (per-row retry counter, default 0) drives the transient
    failure model; a transiently failed fetch yields no links.
    """
    host_idx, page_idx = parse_page_urls(urls)
    seeds = _page_seed(cfg, host_idx, page_idx)
    valid = host_idx >= 0
    ok = valid & ((seeds % _U64(cfg.fail_mod)) != 0)
    if cfg.transient_fail_mod > 0:
        a = (
            np.zeros(len(urls), np.int64)
            if attempt is None
            else np.asarray(attempt, np.int64)
        )
        tmix = splitmix64(
            seeds ^ ((a + 1).view(_U64) * _U64(0x2545F4914F6CDD1D))
        )
        ok = ok & ((tmix % _U64(cfg.transient_fail_mod)) != 0)

    dims = np.array([32, 64, 128], np.int32)
    w = dims[(seeds >> _U64(3)) % _U64(3)]
    h = dims[(seeds >> _U64(5)) % _U64(3)]
    fmt = np.where((seeds >> _U64(7)) % _U64(3) == 0, "ppm", "png")
    cap_tok = (seeds % _U64(9973)).astype(np.int64)
    caption = (
        "caption "
        + pd.Series(host_name(host_idx))
        + " p"
        + pd.Series(page_idx).astype(str)
        + " "
        + pd.Series(cap_tok).astype(str)
    ).to_numpy()

    # links: vectorized over (row, slot)
    ppl = cfg.pages_per_host()
    n_links = (seeds % _U64(cfg.max_links + 1)).astype(np.int64)
    n_links = np.where(ok, n_links, 0)
    n = len(urls)
    links: list[list[str]] = [[] for _ in range(n)]
    for slot in range(cfg.max_links):
        active = n_links > slot
        if not active.any():
            break
        ch = splitmix64(seeds ^ _U64(((slot + 1) * 0x5851F42D4C957F2D) & 0xFFFFFFFFFFFFFFFF))
        cross = (ch % _U64(100)) < _U64(cfg.cross_host_pct)
        tgt_host = np.where(
            cross,
            ((ch >> _U64(8)) % _U64(cfg.n_hosts)).astype(np.int64),
            np.maximum(host_idx, 0),
        )
        tgt_page = ((ch >> _U64(24)) % ppl[tgt_host].view(_U64)).astype(np.int64)
        child = page_urls(cfg, tgt_host, tgt_page)
        for i in np.flatnonzero(active):
            links[i].append(child[i])

    return pd.DataFrame(
        {
            "host_idx": host_idx,
            "page_idx": page_idx,
            "seed": seeds.view(np.int64),
            "ok": ok,
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "fmt": fmt,
            "caption": caption,
            "links": links,
        },
        index=urls.index,
    )


def render_page(
    spec_seed: int, w: int, h: int, fmt: str, mirror: bool
) -> tuple[bytes, int]:
    """Render one page's image; returns (stored_bytes, phash).

    ``mirror=True`` applies the engine's CDN-mirror semantics: ppm pages
    are re-encoded through the QUANT_STEP quantizer (lossy), png stays
    lossless. phash is always computed on the stored (post-mirror) pixels.
    """
    px = synth_image(spec_seed, int(w), int(h))
    if mirror and fmt == "ppm":
        px = quantize(px)
    return encode_image(px, fmt), phash64(px)


def image_id_for(url_canon: pd.Series) -> pd.Series:
    """Deterministic 32-hex image id, fully vectorized (replaces uuid4,
    /root/reference/utils/qiniu_upload.py:23).

    Two independently-seeded fnv64 lanes over the canonical URL give a
    128-bit-wide id space (collision-safe at 10^10 ids); hex formatting
    is ONE ``hexlify`` over the packed big-endian byte block — no
    per-row Python (the previous sha1 ran one hashlib call per row)."""
    import binascii

    from ..functions.hashing import fnv64_lanes

    n = len(url_canon)
    l1, l2 = fnv64_lanes(url_canon, seed2=0x1D8AF6C7)  # one byte-matrix pass
    lanes = np.empty((n, 2), ">u8")
    lanes[:, 0] = l1.view(_U64)
    lanes[:, 1] = l2.view(_U64)
    ids = np.frombuffer(binascii.hexlify(lanes.tobytes()), dtype="S32")
    return pd.Series(ids.astype(str), index=url_canon.index, dtype=object)


def fetch_pages_pdf(
    cfg: SynthWebConfig,
    url_canon: pd.Series,
    mirror: bool = True,
    attempt: np.ndarray | None = None,
) -> pd.DataFrame:
    """Batch 'HTTP fetch' against the synthetic web (pandas-level).

    Returns one row per input URL: ok, image_id, bytes, w, h, fmt,
    caption, phash, links. Used inside the Spark ``mapInPandas`` fetch
    stage and by the serial oracle (with mirror semantics on/off).
    ``attempt`` feeds the transient-failure model (see page_specs).
    """
    specs = page_specs(cfg, url_canon, attempt)
    blobs: list[bytes | None] = [None] * len(specs)
    phashes = np.zeros(len(specs), np.int64)
    rows_ok = np.flatnonzero(specs["ok"].to_numpy())
    seeds = specs["seed"].to_numpy()
    ws, hs, fmts = specs["w"].to_numpy(), specs["h"].to_numpy(), specs["fmt"].to_numpy()
    for i in rows_ok:
        blobs[i], phashes[i] = render_page(int(seeds[i]), ws[i], hs[i], fmts[i], mirror)
    out = specs.drop(columns=["host_idx", "page_idx", "seed"]).copy()
    out["bytes"] = blobs
    out["phash"] = phashes
    out["image_id"] = image_id_for(url_canon)
    out["url_canon"] = url_canon.to_numpy()
    return out


def _seed_idx(cfg: SynthWebConfig, rank: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(host_idx, page_idx) of the page that seed ``rank`` points at."""
    ppl = cfg.pages_per_host()
    host_idx = (splitmix64(rank.view(_U64) ^ _U64(cfg.seed * 31)) % _U64(cfg.n_hosts)).astype(
        np.int64
    )
    page_idx = (
        splitmix64(rank.view(_U64) ^ _U64(cfg.seed * 131)) % ppl[host_idx].view(_U64)
    ).astype(np.int64)
    return host_idx, page_idx


def seed_urls_arr(cfg: SynthWebConfig, rank: np.ndarray) -> pa.Array:
    """Messy URL spellings (variant ``rank % 5``) for a rank array as ONE
    Arrow string array, without ever minting Python string objects. Used
    by the mapInArrow candidate generator.

    Builds variants from the known components (no regex re-extract);
    ``tests/seed_url_oracle.py`` keeps the pandas construction it must
    match bit for bit.
    """
    rank = np.asarray(rank, np.int64)
    host_idx, page_idx = _seed_idx(cfg, rank)
    variant = rank % 5
    seeds = _page_seed(cfg, host_idx, page_idx)
    private = pa.array((seeds % _U64(cfg.private_mod)) == 0)
    hosts = pa.array(host_name(host_idx), pa.string())
    pages = pc.cast(pa.array(page_idx), pa.string())
    path = pc.binary_join_element_wise(
        pc.if_else(private, "/private/p/", "/p/"), pages, ""
    )
    canon_a = pc.binary_join_element_wise("http://", hosts, path, "")
    v1 = pc.binary_join_element_wise(
        "HTTP://WWW.", pc.utf8_upper(hosts), ":80", path, ""
    )
    v2 = pc.binary_join_element_wise(canon_a, "#section-2", "")
    v3 = pc.binary_join_element_wise(
        canon_a, "?utm_source=feed&utm_medium=x&utm_campaign=1", ""
    )
    v4 = pc.binary_join_element_wise(
        "http://", hosts, "/x/../",
        pc.if_else(private, "private/p/", "p/"), pages, "",
    )
    return pc.case_when(
        pc.make_struct(*(pa.array(variant == k) for k in range(1, 5))),
        v1, v2, v3, v4, canon_a,
    )


def make_seed_urls(cfg: SynthWebConfig, n_seeds: int) -> pd.DataFrame:
    """Messy seed list exercising canonicalization (5 spelling variants)."""
    return seed_urls_pdf(cfg, np.arange(n_seeds, dtype=np.int64))


def seed_urls_pdf(cfg: SynthWebConfig, rank: np.ndarray) -> pd.DataFrame:
    """Vectorized core of :func:`make_seed_urls` for an arbitrary rank array.

    Returns columns (url, seed_rank); canon(url) is always a valid page
    URL of the synthetic web.
    """
    rank = np.asarray(rank, np.int64)
    messy = seed_urls_arr(cfg, rank)
    return pd.DataFrame({"url": messy.to_numpy(zero_copy_only=False), "seed_rank": rank})


def distributed_seed_urls(spark, cfg: SynthWebConfig, n: int, start: int = 0,
                          partitions: int | None = None):
    """Executor-side URL generation for frontiers too big to build on the
    driver: ``spark.range`` → ``mapInPandas`` over :func:`seed_urls_pdf`.
    This is how a 10^10-row frontier is *simulated* — pure hash-range
    math, never materialized driver-side (SURVEY.md §7 item 1)."""

    def gen(batches):
        for pdf in batches:
            yield seed_urls_pdf(cfg, pdf["id"].to_numpy())

    rng = spark.range(start, start + n, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInPandas(gen, schema="url string, seed_rank long")


def distributed_candidates(spark, cfg: SynthWebConfig, n: int, n_host_buckets: int,
                           start: int = 0, partitions: int | None = None):
    """Generate + canonicalize candidates in ONE Python pass.

    ``distributed_seed_urls`` |> ``canonize`` is two adjacent mapInPandas
    stages, which ships every messy URL string Python→JVM→Python through
    Arrow between them — pure serialization cost. Fusing them means only
    the int64 range enters Python and only the canonical columns
    (url_canon, url_hash, host_bucket, priority) leave; the raw spelling
    never crosses the boundary at all. Identical output to the composed
    pair (same kernels), ~2x less Arrow traffic on the generate side.

    The stage runs as ``mapInArrow``: URL strings live as Arrow arrays
    end-to-end (generation → canon → fnv64 all operate on the contiguous
    UTF-8 buffer), so no Python str objects are ever minted.
    """
    from ..functions.hashing import fnv64, pmod_bucket
    from ..functions.urls import canon_arr

    def gen(batches):
        for rb in batches:
            rank = rb.column("id").to_numpy()
            canon, host = canon_arr(seed_urls_arr(cfg, rank))
            yield pa.RecordBatch.from_arrays(
                [
                    pc.cast(canon, pa.string()),
                    pa.array(fnv64(canon)),
                    pa.array(pmod_bucket(fnv64(host), n_host_buckets)),
                    pa.array(rank),
                ],
                names=["url_canon", "url_hash", "host_bucket", "priority"],
            )

    rng = spark.range(start, start + n, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng.mapInArrow(
        gen, schema="url_canon string, url_hash long, host_bucket int, priority long"
    )


def robots_pdf(cfg: SynthWebConfig) -> pd.DataFrame:
    """Per-host politeness dimension table (robots cache).

    crawl_delay mirrors the reference's 1-6 s sleeps
    (/root/reference/looksrare/get_look_srare.py:133), max_per_generation
    the 40-300 page caps (/root/reference/nft/opensea/opensea_api.py:9-14).
    """
    idx = np.arange(cfg.n_hosts, dtype=np.int64)
    hseed = splitmix64(idx.view(_U64) ^ _U64(cfg.seed * 7))
    delays = np.array([1000, 2000, 3000, 6000], np.int32)[hseed % _U64(4)]
    budgets = np.array([5, 10, 20, 40], np.int32)[(hseed >> _U64(4)) % _U64(4)]
    disallow = [["/private"] if int(x % _U64(4)) == 0 else [] for x in hseed]
    return pd.DataFrame(
        {
            "host": pd.Series(host_name(idx)),
            "crawl_delay_ms": delays,
            "max_per_generation": budgets,
            "disallow_prefixes": disallow,
        }
    )
