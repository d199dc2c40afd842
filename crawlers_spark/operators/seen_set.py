"""Partitioned Bloom-filter kernels for the URL-seen set.

Scale design (north_star): at 10^10 URLs a single driver-side Bloom
filter (``DataFrame.stat.bloomFilter``) needs ~12.5 GB in one blob — a
non-starter. Instead the hash space is split into ``n_buckets`` buckets
(``pmod(url_hash, B)``); each bucket owns an independent filter blob
sized for its share, built bucket-locally with ``applyInPandas``.

Membership is decided exactly by the fused frontier step
(operators/fused_schedule.py), which probes each host bucket's exact
seen shard with ``searchsorted`` inside its cogroup; a per-bucket blob
(``build_host_bucket_blobs`` there) only shrinks that probe set. This
module holds the numpy kernels (``bloom_build_blob`` /
``bloom_test_blob``) and the per-hash-bucket filter table
(``build_bucket_filters``). Reference analog: in-memory
``repeat_list`` dedup
(/root/reference/youtube/get_youtube_v1.2.py:126-136) and
query-before-insert (/root/reference/worldcup/db/deal_mysql_info.py:38-57).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import fnv64_i64

_U64 = np.uint64
_H1_SALT = 0xA0761D6478BD642F
_H2_SALT = 0xE7037ED1A0B428DB


@dataclass(frozen=True)
class BloomParams:
    n_buckets: int = 64
    bits_per_bucket: int = 1 << 16  # 8 KiB / bucket
    n_hashes: int = 7

    @staticmethod
    def size_for(expected_n: int, fpp: float = 0.01, n_buckets: int = 64) -> "BloomParams":
        """Classic sizing: m = -n ln p / (ln 2)^2, k = m/n ln 2."""
        per_bucket = max(64, expected_n // max(n_buckets, 1) + 1)
        m = int(-per_bucket * math.log(fpp) / (math.log(2) ** 2))
        m = 1 << max(9, (m - 1).bit_length())  # round up to pow2, >=512 bits
        k = max(1, round(m / per_bucket * math.log(2)))
        return BloomParams(n_buckets=n_buckets, bits_per_bucket=m, n_hashes=min(k, 16))


def _bit_positions(hashes: np.ndarray, params: BloomParams) -> np.ndarray:
    """(n, k) bit indices via double hashing h1 + i*h2 (Kirsch–Mitzenmacher)."""
    h1 = fnv64_i64(hashes, _H1_SALT).view(_U64)
    h2 = fnv64_i64(hashes, _H2_SALT).view(_U64) | _U64(1)
    i = np.arange(params.n_hashes, dtype=_U64).reshape(1, -1)
    with np.errstate(over="ignore"):
        pos = h1.reshape(-1, 1) + i * h2.reshape(-1, 1)
    return (pos % _U64(params.bits_per_bucket)).astype(np.int64)


def bloom_build_blob(hashes: np.ndarray, params: BloomParams) -> bytes:
    """Build one bucket's filter blob from its int64 hashes (numpy only)."""
    arr = np.zeros(params.bits_per_bucket >> 3, np.uint8)
    if len(hashes):
        pos = _bit_positions(np.asarray(hashes, np.int64), params)
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return arr.tobytes()


def bloom_test_blob(hashes: np.ndarray, blob: bytes | None, params: BloomParams) -> np.ndarray:
    """Vectorized membership test; all-False for a missing blob."""
    if blob is None or len(hashes) == 0:
        return np.zeros(len(hashes), bool)
    arr = np.frombuffer(blob, np.uint8)
    pos = _bit_positions(np.asarray(hashes, np.int64), params)
    bits = (arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return bits.all(axis=1)


def with_bloom_bucket(df: DataFrame, params: BloomParams, hash_col: str = "url_hash") -> DataFrame:
    return df.withColumn("bloom_bucket", F.pmod(F.col(hash_col), F.lit(params.n_buckets)).cast("int"))


def build_bucket_filters(
    df: DataFrame, params: BloomParams, hash_col: str = "url_hash", epoch: int = 0
) -> DataFrame:
    """(bloom_bucket, epoch, filter, n_items) — one blob per hash bucket.

    applyInPandas groups each bucket's hashes on one task; partial blobs
    never leave their bucket's partition.
    """
    bucketed = with_bloom_bucket(df.select(hash_col), params, hash_col)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = bloom_build_blob(pdf[hash_col].to_numpy(np.int64), params)
        return pd.DataFrame(
            {
                "bloom_bucket": [int(pdf["bloom_bucket"].iloc[0])],
                "epoch": [epoch],
                "filter": [blob],
                "n_items": [len(pdf)],
            }
        )

    return bucketed.groupBy("bloom_bucket").applyInPandas(
        build, schema="bloom_bucket int, epoch int, filter binary, n_items long"
    )
