"""Cuckoo-filter kernel: the deletion-capable alternative to the Bloom
seen-set (BASELINE.json north_star: "Bloom/cuckoo URL-seen set").

Why a cuckoo option at all: a crawl that *retires* URLs (robots change,
host blocklisted, TTL re-crawl) needs deletions, which Bloom filters
cannot do. The per-bucket layout is identical to the Bloom path — one
blob per hash bucket, built bucket-locally, OR-incompatible so merging
uses insert-replay — and membership testing has the same per-bucket
shape as ``bloom_test_blob`` in operators/seen_set.py.

Standard 4-way, partial-key cuckoo filter (Fan et al., CoNEXT'14 —
public algorithm): f-bit fingerprints, bucket pair (i1, i2 = i1 XOR
hash(fp)), BFS-free random-walk eviction with a bounded kick count.
All numpy; vectorized lookup, amortized-vectorized insert.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..functions.hashing import fnv64_i64

_FP_SALT = 0x517CC1B727220A95
_ALT_SALT = 0x2545F4914F6CDD1D
MAX_KICKS = 500


@dataclass(frozen=True)
class CuckooParams:
    n_buckets_pow2: int = 1 << 12  # slots tables of 4 entries each
    fp_bits: int = 16              # fingerprint width (uint16 storage)

    @staticmethod
    def size_for(expected_n: int) -> "CuckooParams":
        """~95% load max for 4-way; leave headroom at 80%."""
        need = max(64, int(expected_n / 0.8 / 4))
        return CuckooParams(n_buckets_pow2=1 << (need - 1).bit_length())


class CuckooFilter:
    """One bucket shard's filter; table is a (n_buckets, 4) uint16 array
    with 0 = empty (fingerprints are mapped to 1..65535)."""

    def __init__(self, params: CuckooParams, table: np.ndarray | None = None):
        self.params = params
        self.table = (
            table
            if table is not None
            else np.zeros((params.n_buckets_pow2, 4), np.uint16)
        )
        self._mask = np.uint64(params.n_buckets_pow2 - 1)

    # ---------- hashing ----------
    def _fingerprints(self, hashes: np.ndarray) -> np.ndarray:
        fp = (fnv64_i64(hashes, _FP_SALT).view(np.uint64) & np.uint64(0xFFFF)).astype(
            np.uint16
        )
        return np.where(fp == 0, np.uint16(1), fp)  # 0 means empty

    def _index1(self, hashes: np.ndarray) -> np.ndarray:
        return (np.asarray(hashes, np.int64).view(np.uint64) & self._mask).astype(
            np.int64
        )

    def _alt_index(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        fp_h = fnv64_i64(fp.astype(np.int64), _ALT_SALT).view(np.uint64)
        return ((idx.astype(np.int64).view(np.uint64) ^ fp_h) & self._mask).astype(
            np.int64
        )

    # ---------- ops ----------
    def contains(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership: fp present in bucket i1 or i2."""
        h = np.asarray(hashes, np.int64)
        if len(h) == 0:
            return np.zeros(0, bool)
        fp = self._fingerprints(h)
        i1 = self._index1(h)
        i2 = self._alt_index(i1, fp)
        in1 = (self.table[i1] == fp[:, None]).any(axis=1)
        in2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return in1 | in2

    def _place(self, fp: int, i1: int, rng: np.random.RandomState) -> bool:
        """Place one fingerprint (skip if already present); True on success."""
        i2 = int(self._alt_index(np.array([i1]), np.array([fp], np.uint16))[0])
        if (self.table[i1] == fp).any() or (self.table[i2] == fp).any():
            return True
        for idx in (i1, i2):
            empty = np.flatnonzero(self.table[idx] == 0)
            if len(empty):
                self.table[idx, empty[0]] = fp
                return True
        # random-walk eviction
        idx, cur = (i1 if rng.rand() < 0.5 else i2), np.uint16(fp)
        for _ in range(MAX_KICKS):
            slot = rng.randint(4)
            cur, self.table[idx, slot] = self.table[idx, slot], cur
            idx = int(self._alt_index(np.array([idx]), np.array([cur]))[0])
            empty = np.flatnonzero(self.table[idx] == 0)
            if len(empty):
                self.table[idx, empty[0]] = cur
                return True
        return False

    def insert(self, hashes: np.ndarray) -> int:
        """Insert all (idempotent for present fingerprints); returns the
        number of items that could not be placed (table overfull).

        Vectorized common path: batch-dedup (bucket, fingerprint) pairs,
        batch-drop already-present ones, then bulk empty-slot placement in
        rounds — each round claims the first empty slot for at most one
        new fingerprint per bucket (np.unique picks the representative,
        so concurrent writes to one bucket cannot race). Only items still
        unplaced after the bulk rounds (buckets full on both sides) fall
        back to the scalar random-walk eviction."""
        h = np.asarray(hashes, np.int64)
        if len(h) == 0:
            return 0
        fp_all = self._fingerprints(h)
        i1_all = self._index1(h)
        i2_all = self._alt_index(i1_all, fp_all)
        # unique (unordered bucket pair, fp): insert is fingerprint-
        # idempotent, and keying on min(i1, i2) collapses the (A,B)/(B,A)
        # spellings of one pair — keying on i1 alone would let the same
        # (fp, pair) be placed twice via its two orientations
        key = (
            np.minimum(i1_all, i2_all).view(np.uint64) << np.uint64(16)
        ) | fp_all.astype(np.uint64)
        _, first = np.unique(key, return_index=True)
        fp_u = fp_all[first]
        i1_u = i1_all[first]
        i2_u = i2_all[first]
        present = (self.table[i1_u] == fp_u[:, None]).any(axis=1) | (
            self.table[i2_u] == fp_u[:, None]
        ).any(axis=1)
        fp_u, i1_u, i2_u = fp_u[~present], i1_u[~present], i2_u[~present]

        pending = np.arange(len(fp_u))
        for attempt in range(8):
            if len(pending) == 0:
                break
            tgt_all = i1_u if attempt % 2 == 0 else i2_u
            alt_all = i2_u if attempt % 2 == 0 else i1_u
            # one candidate per bucket this round
            _, rep = np.unique(tgt_all[pending], return_index=True)
            cand = pending[rep]
            b, ab = tgt_all[cand], alt_all[cand]
            # re-check presence against writes from EARLIER rounds
            # (mirrors _place): a colliding fingerprint placed since the
            # upfront check must not be stored a second time
            now = (self.table[b] == fp_u[cand][:, None]).any(axis=1) | (
                self.table[ab] == fp_u[cand][:, None]
            ).any(axis=1)
            fresh = cand[~now]
            b = tgt_all[fresh]
            empty = self.table[b] == 0
            ok = empty.any(axis=1)
            rows, slots = b[ok], empty[ok].argmax(axis=1)
            self.table[rows, slots] = fp_u[fresh[ok]]
            done = np.concatenate([cand[now], fresh[ok]])
            pending = np.setdiff1d(pending, done, assume_unique=True)

        rng = np.random.RandomState(42)  # deterministic eviction walk
        failed = 0
        for k in pending:
            if not self._place(int(fp_u[k]), int(i1_u[k]), rng):
                failed += 1
        return failed

    def delete(self, hashes: np.ndarray) -> np.ndarray:
        """Delete one copy of each present fingerprint; returns bool array
        of which deletions succeeded. (The capability Bloom lacks.)

        Standard cuckoo caveat (Fan et al. §3.2): because ``insert`` is
        fingerprint-idempotent, two distinct keys colliding on
        (fingerprint, bucket-pair) share one stored copy, and deleting one
        strands the other as a false negative — probability ~= the FPR
        (~1e-4 at 16-bit fingerprints). Crawl usage tolerates this: a
        stranded URL is re-fetched once, and exact-rescue keeps dedup
        correct."""
        h = np.asarray(hashes, np.int64)
        if len(h) == 0:
            return np.zeros(0, bool)
        fp_all = self._fingerprints(h)
        i1_all = self._index1(h)
        i2_all = self._alt_index(i1_all, fp_all)
        out = np.zeros(len(h), bool)
        pending = np.arange(len(h))
        # bulk rounds, one write per bucket per round (np.unique picks the
        # representative). Every candidate is resolved definitively each
        # round — deleted from i1, else from i2, else its fingerprint is
        # not stored (no inserts run concurrently, so absent stays absent)
        # — and leaves pending, guaranteeing termination.
        while len(pending):
            _, rep = np.unique(i1_all[pending], return_index=True)
            cand = pending[rep]
            _, rep2 = np.unique(i2_all[cand], return_index=True)
            cand = cand[np.sort(rep2)]
            b1 = i1_all[cand]
            m1 = self.table[b1] == fp_all[cand][:, None]
            ok1 = m1.any(axis=1)
            self.table[b1[ok1], m1[ok1].argmax(axis=1)] = 0
            out[cand[ok1]] = True
            rem = cand[~ok1]
            if len(rem):  # re-read: i1 deletions above may share buckets
                b2 = i2_all[rem]
                m2 = self.table[b2] == fp_all[rem][:, None]
                ok2 = m2.any(axis=1)
                self.table[b2[ok2], m2[ok2].argmax(axis=1)] = 0
                out[rem[ok2]] = True
            pending = np.setdiff1d(pending, cand, assume_unique=True)
        return out

    # ---------- (de)serialization for blob tables ----------
    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes, params: CuckooParams) -> "CuckooFilter":
        table = np.frombuffer(data, np.uint16).reshape(params.n_buckets_pow2, 4).copy()
        return cls(params, table)

    def merge(self, other: "CuckooFilter") -> "CuckooFilter":
        """Merge by replaying the other's occupied (bucket, fingerprint)
        pairs — cuckoo tables are not OR-mergeable; replay (with the full
        eviction walk) preserves the invariant.

        A stored fingerprint's bucket is either its i1 or i2; replaying at
        its observed bucket keeps the (i1, i2) pair valid because
        alt(alt(i)) == i under the XOR partial-key scheme."""
        rng = np.random.RandomState(1337)
        flat = other.table.ravel()
        for pos in np.flatnonzero(flat):
            self._place(int(flat[pos]), int(pos) // 4, rng)
        return self
