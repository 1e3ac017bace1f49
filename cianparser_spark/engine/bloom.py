"""Partitioned Bloom filter for the URL-seen set (cuckoo fallback).

North-rule component: at 10^10-URL scale the exact ``seen`` table
can't be anti-joined against every wave's full candidate set cheaply,
so candidates are pre-filtered through per-bucket Bloom filters built
from the seen keys.  Semantics are SAFETY-PRESERVING by construction:

* Bloom says "definitely unseen"  -> candidate bypasses the exact join
  and is accepted (no false drops possible);
* Bloom says "maybe seen"         -> candidate goes through the exact
  ``left_anti`` join (false positives only cost a join probe).

Buckets are ``hash(key) % n_buckets`` so each filter is built from one
partition of the seen table (``applyInPandas``-shaped aggregation) and
the in-memory blob stays small enough to broadcast.

Hashes come from ``pandas.util.hash_array`` (stable, vectorized,
process-independent) with two different hash keys, combined by double
hashing h1 + i*h2.

``CuckooBucket`` is the deletable variant (re-crawl invalidation): a
cuckoo filter's fingerprint slots support deletion, which Bloom cannot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_HASH_KEY_1 = "0123456789abcdef"
_HASH_KEY_2 = "fedcba9876543210"


def _h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    arr = np.asarray(keys, dtype=object)
    h1 = pd.util.hash_array(arr, hash_key=_HASH_KEY_1)
    h2 = pd.util.hash_array(arr, hash_key=_HASH_KEY_2) | 1  # odd => full cycle
    return h1, h2


def mix64(x: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 — the i64-key hash
    family.  String keys go through pandas ``hash_array`` (object
    arrays, ~µs/key); 64-bit frontier keys (xxhash64 of the canonical
    URL) deserve a pure-numpy pipeline: ~6 SIMD ops/key, no object
    boxing.  Different ``seed`` values give independent hash streams
    (double hashing, bucket routing)."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64, copy=True) + np.uint64(seed)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _h2_i64(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    h1 = mix64(keys, 0x9E3779B97F4A7C15)
    h2 = mix64(keys, 0xC2B2AE3D27D4EB4F) | np.uint64(1)
    return h1, h2


def _set_bits(bits: np.ndarray, n_bits: int, h1: np.ndarray, h2: np.ndarray,
              n_hashes: int) -> None:
    """OR the double-hashed bit positions into the packed uint8 array.

    Scatter into a boolean plane + ``np.packbits`` + one OR — ~25×
    faster than ``np.bitwise_or.at`` (an unbuffered per-element
    scatter) at bulk-build sizes, and bit-identical: duplicate indices
    are plain re-stores of True, and OR is order-free.  The bool plane
    costs ``n_bits`` bytes (8× the filter) — bounded because per-bucket
    filters are fixed-size by construction; above the cap (huge filter,
    tiny batch) fall back to the scatter so memory stays proportional
    to the batch.  The plane is ALSO absolutely capped at n_bits = 2^32,
    i.e. 4 GiB of plane for a 512 MB filter: for larger geometries (e.g.
    the auto-spool shape at bloom_bits=1<<33) a large applyInPandas
    group would otherwise allocate an 8+ GiB plane per task
    executor-side however the batch-size heuristic lands."""
    if h1.size and n_bits <= (1 << 32) and (
            n_bits <= (1 << 27) or h1.size * 64 >= n_bits):
        plane = np.zeros(bits.size * 8, np.bool_)
        for i in range(n_hashes):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
            plane[idx.astype(np.int64)] = True
        bits |= np.packbits(plane, bitorder="little")
        return
    for i in range(n_hashes):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
        np.bitwise_or.at(bits, (idx // 8).astype(np.int64),
                         (1 << (idx % 8)).astype(np.uint8))


class BloomFilter:
    """Bit-array Bloom filter over string keys, numpy-vectorized."""

    def __init__(self, n_bits: int, n_hashes: int = 7, bits: np.ndarray | None = None):
        self.n_bits = int(n_bits)
        self.n_hashes = n_hashes
        self.bits = bits if bits is not None else np.zeros((self.n_bits + 7) // 8, np.uint8)

    @classmethod
    def build(cls, keys, bits_per_key: int = 12, n_hashes: int = 7) -> "BloomFilter":
        keys = list(keys)
        bf = cls(max(1024, bits_per_key * max(len(keys), 1)), n_hashes)
        if keys:
            bf.add(np.asarray(keys, dtype=object))
        return bf

    def add(self, keys: np.ndarray) -> None:
        h1, h2 = _h2(keys)
        _set_bits(self.bits, self.n_bits, h1, h2, self.n_hashes)

    def contains(self, keys) -> np.ndarray:
        """Vectorized membership probe -> bool array ('maybe seen')."""
        keys = np.asarray(keys, dtype=object)
        if keys.size == 0:
            return np.zeros(0, bool)
        return self._probe(*_h2(keys))

    def add_i64(self, keys: np.ndarray) -> None:
        """Insert uint64/int64 keys via the splitmix64 hash family —
        the frontier path, where the key already IS a 64-bit hash."""
        h1, h2 = _h2_i64(keys)
        _set_bits(self.bits, self.n_bits, h1, h2, self.n_hashes)

    def contains_i64(self, keys: np.ndarray) -> np.ndarray:
        if keys.size == 0:
            return np.zeros(0, bool)
        return self._probe(*_h2_i64(keys))

    def _probe(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        out = np.ones(h1.size, bool)
        for i in range(self.n_hashes):
            idx = (h1 + np.uint64(i) * h2) % np.uint64(self.n_bits)
            got = (self.bits[(idx // 8).astype(np.int64)] >> (idx % 8).astype(np.uint8)) & 1
            out &= got.astype(bool)
            if not out.any():
                break
        return out

    def to_bytes(self) -> bytes:
        head = np.array([self.n_bits, self.n_hashes], np.int64).tobytes()
        return head + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BloomFilter":
        n_bits, n_hashes = np.frombuffer(blob[:16], np.int64)
        return cls(int(n_bits), int(n_hashes), np.frombuffer(blob[16:], np.uint8).copy())

    @classmethod
    def from_bytes_ro(cls, blob: bytes) -> "BloomFilter":
        """Zero-copy read-only view for probe-side use (``contains``
        only reads ``bits``).  Executor prefilters deserialize the
        broadcast blobs once per task; at 8 MB of filter state a
        per-batch ``from_bytes`` copy dominates the probe itself."""
        mv = memoryview(blob)
        n_bits, n_hashes = np.frombuffer(mv[:16], np.int64)
        return cls(int(n_bits), int(n_hashes), np.frombuffer(mv[16:], np.uint8))


class PartitionedBloom:
    """n_buckets Bloom filters keyed by hash(key) % n_buckets."""

    def __init__(self, n_buckets: int, filters: list[BloomFilter]):
        self.n_buckets = n_buckets
        self.filters = filters

    @classmethod
    def build(cls, keys, n_buckets: int = 16, bits_per_key: int = 12) -> "PartitionedBloom":
        keys = np.asarray(list(keys), dtype=object)
        if keys.size:
            bucket = pd.util.hash_array(keys, hash_key=_HASH_KEY_1) % np.uint64(n_buckets)
            groups = [keys[bucket == b] for b in range(n_buckets)]
        else:
            groups = [keys] * n_buckets
        return cls(n_buckets, [BloomFilter.build(g, bits_per_key) for g in groups])

    def contains(self, keys) -> np.ndarray:
        keys = np.asarray(list(keys), dtype=object)
        if keys.size == 0:
            return np.zeros(0, bool)
        bucket = pd.util.hash_array(keys, hash_key=_HASH_KEY_1) % np.uint64(self.n_buckets)
        out = np.zeros(keys.size, bool)
        for b in range(self.n_buckets):
            mask = bucket == b
            if mask.any():
                out[mask] = self.filters[b].contains(keys[mask])
        return out

    def to_blobs(self) -> list[bytes]:
        return [f.to_bytes() for f in self.filters]

    @classmethod
    def from_blobs(cls, blobs: list[bytes]) -> "PartitionedBloom":
        return cls(len(blobs), [BloomFilter.from_bytes(b) for b in blobs])


def or_merge_blob_group(pdf) -> "pd.DataFrame":
    """applyInPandas kernel: OR-merge one bucket's blob rows into one
    blob.  Lives HERE, beside ``to_bytes``/``from_bytes``, because it
    hard-codes the 16-byte (n_bits, n_hashes) header of the blob
    format — the crawler's spool merge and the frontier scale bench
    both use this single definition.

    Refuses mismatched filter geometries loudly: blobs of different
    ``n_bits`` cannot OR (a silent truncating merge would turn Bloom
    false-positives into FALSE NEGATIVES, i.e. dropped dedup keys).
    The legitimate path to a new ``bloom_bits`` on an existing store
    is a sidecar REBUILD from the exact seen table
    (crawler._update_bloom_spark handles that automatically)."""
    heads = {bytes(b[:16]) for b in pdf["blob"]}
    if len(heads) != 1:
        # compare the (n_bits, n_hashes) HEADERS, not derived body
        # sizes — distinct n_bits can round to the same byte count,
        # and an n_hashes mismatch has no size signature at all
        geoms = sorted(tuple(np.frombuffer(h, np.int64)) for h in heads)
        raise ValueError(
            f"bloom blob geometry mismatch in bucket "
            f"{int(pdf['bucket'].iloc[0])}: (n_bits, n_hashes) {geoms} — "
            "filter geometry changed across waves; rebuild the sidecar "
            "from the seen table instead of merging")
    bodies = [np.frombuffer(memoryview(b)[16:], np.uint8)
              for b in pdf["blob"]]
    acc = bodies[0].copy()
    for b in bodies[1:]:
        acc |= b
    return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                         "blob": [heads.pop() + acc.tobytes()]})


def blob_n_bits(blob: bytes) -> int:
    """The ``n_bits`` a serialized blob was built with (header peek)."""
    return int(np.frombuffer(memoryview(blob)[:16], np.int64)[0])


# ------------------------------------------------- executor-side spool probe

# One blob GENERATION per executor process: the probe UDF ships only
# the blob table's directory list in its closure; the first task of a
# generation on each process loads the blobs from shared storage, every
# later task (and every Arrow batch) reuses them.  Clearing on
# generation change bounds per-executor memory to one filter set.
_SPOOL_CACHE: dict[tuple, dict[int, "BloomFilter"]] = {}


def load_spool_filters(dirs: tuple[str, ...]) -> dict[int, "BloomFilter"]:
    """Load (and process-cache) the per-bucket Bloom blobs from the
    committed blob-table parquet directories — the probe side of the
    SPOOL sidecar mode, where filters are too big to ship through the
    driver.  The closure cost of a probe UDF is the path tuple, never
    the blobs; at 10^10-URL scale each executor reads the blob files
    once per generation from shared storage (here: the local store
    root), and the driver never materializes a single blob byte.

    Duplicate buckets across files OR-merge (all blobs of a bucket are
    fixed-size by construction)."""
    hit = _SPOOL_CACHE.get(dirs)
    if hit is None:
        import os

        import pyarrow.parquet as pq

        filters: dict[int, BloomFilter] = {}
        for d in dirs:
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".parquet"):
                    continue
                tb = pq.read_table(os.path.join(d, fname),
                                   columns=["bucket", "blob"])
                for b, blob in zip(tb.column("bucket").to_pylist(),
                                   tb.column("blob").to_pylist()):
                    if int(np.frombuffer(memoryview(blob)[:8],
                                         np.int64)[0]) == CuckooBucket.MAGIC:
                        # a cuckoo-built store reopened in spool mode:
                        # parsing the slot table as Bloom bits would
                        # fail as an opaque executor IndexError — be
                        # loud and actionable instead
                        raise ValueError(
                            "cuckoo sidecar blob in the spool blob "
                            "table: reopen the store with "
                            "seen_filter='cuckoo' (driver mode), or "
                            "rebuild the sidecar "
                            "(invalidate_and_recrawl) before using "
                            "bloom_spool")
                    f = BloomFilter.from_bytes(bytes(blob))
                    have = filters.get(int(b))
                    if have is None:
                        filters[int(b)] = f
                    elif (have.n_bits, have.n_hashes) != (f.n_bits,
                                                          f.n_hashes):
                        # same guard as or_merge_blob_group: blobs of
                        # different geometry must never OR (false
                        # positives would become false NEGATIVES =
                        # dropped dedup keys).  Unreachable while the
                        # blob table is replace-written with uniform
                        # geometry — which is exactly why it must be
                        # loud if that ever changes.
                        raise ValueError(
                            f"bloom blob geometry mismatch in bucket "
                            f"{int(b)}: {(have.n_bits, have.n_hashes)}"
                            f" vs {(f.n_bits, f.n_hashes)}")
                    else:
                        have.bits |= f.bits
        _SPOOL_CACHE.clear()
        _SPOOL_CACHE[dirs] = filters
        hit = filters
    return hit


class CuckooBucket:
    """Minimal cuckoo filter (deletable seen-set variant).

    2 candidate buckets x 4 slots, 16-bit fingerprints.  Used where the
    crawl needs invalidation (re-crawl of changed pages) — Bloom cannot
    delete.  Wired as the engine's driver-mode sidecar under
    ``seen_filter="cuckoo"`` (crawler.CrawlEngine): inserts are a
    python loop (politeness-bounded, ≤20k keys/wave), probes are
    vectorized (``contains_many``).

    Delete safety: every accepted key is inserted exactly ONCE (the
    seen set is first-wins), so same-(bucket,fp) collisions between
    two inserted keys occupy two slots and deleting one key removes
    one copy — the other key keeps answering 'maybe seen'.  An insert
    that fails displacement (table overfull) SATURATES the filter:
    every probe answers maybe-seen and the exact tier does the work —
    degraded performance, never a false negative.

    Blob format: 16-byte header (int64 magic=-2 — distinguishes from a
    Bloom blob whose first field is n_bits>0 — and int64
    n_buckets*2+saturated) + the uint16 slot table.
    """

    SLOTS = 4
    MAX_KICKS = 200
    MAGIC = -2

    def __init__(self, n_buckets: int):
        # POWER OF TWO required: the kick step's alternate bucket is
        # (i ^ (fp * C)) % n, which is a proper involution (the two
        # candidate buckets map to each other) only when n is 2^k —
        # otherwise a displaced fingerprint can land in a bucket
        # neither lookup probes, a SILENT false negative.  Round up.
        n = max(8, int(n_buckets))
        self.n_buckets = 1 << (n - 1).bit_length()
        self.table = np.zeros((self.n_buckets, self.SLOTS), np.uint16)
        self.saturated = False

    def _fp_and_idx(self, key: str) -> tuple[int, int, int]:
        h1, h2 = _h2(np.asarray([key], dtype=object))
        fp = int(h2[0] & np.uint64(0xFFFF)) or 1
        i1 = int(h1[0] % np.uint64(self.n_buckets))
        i2 = (i1 ^ (fp * 0x5BD1)) % self.n_buckets
        return fp, i1, i2

    def add(self, key: str) -> bool:
        fp, i1, i2 = self._fp_and_idx(key)
        for i in (i1, i2):
            empty = np.where(self.table[i] == 0)[0]
            if empty.size:
                self.table[i, empty[0]] = fp
                return True
        # displace
        rng = np.random.default_rng(fp)
        i = i1
        for _ in range(self.MAX_KICKS):
            slot = int(rng.integers(0, self.SLOTS))
            fp, self.table[i, slot] = int(self.table[i, slot]), fp
            i = (i ^ (fp * 0x5BD1)) % self.n_buckets
            empty = np.where(self.table[i] == 0)[0]
            if empty.size:
                self.table[i, empty[0]] = fp
                return True
        self.saturated = True  # overfull: degrade to all-maybe, loudly
        return False

    def contains(self, key: str) -> bool:
        if self.saturated:
            return True
        fp, i1, i2 = self._fp_and_idx(key)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def remove(self, key: str) -> bool:
        fp, i1, i2 = self._fp_and_idx(key)
        for i in (i1, i2):
            hit = np.where(self.table[i] == fp)[0]
            if hit.size:
                self.table[i, hit[0]] = 0
                return True
        return False

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized probe — bool 'maybe seen' per key (the sidecar
        probe path; same hash family as the scalar methods)."""
        if keys.size == 0:
            return np.zeros(0, bool)
        if self.saturated:
            return np.ones(keys.size, bool)
        h1, h2 = _h2(np.asarray(keys, dtype=object))
        fp = (h2 & np.uint64(0xFFFF)).astype(np.int64)
        fp[fp == 0] = 1
        fp = fp.astype(np.uint16)
        i1 = (h1 % np.uint64(self.n_buckets)).astype(np.int64)
        i2 = ((i1 ^ (fp.astype(np.int64) * 0x5BD1)) % self.n_buckets)
        return ((self.table[i1] == fp[:, None]).any(axis=1)
                | (self.table[i2] == fp[:, None]).any(axis=1))

    def to_bytes(self) -> bytes:
        head = np.array(
            [self.MAGIC, self.n_buckets * 2 + int(self.saturated)],
            np.int64).tobytes()
        return head + self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooBucket":
        magic, packed = np.frombuffer(memoryview(blob)[:16], np.int64)
        if int(magic) != cls.MAGIC:
            raise ValueError(f"not a cuckoo blob (magic {int(magic)})")
        self = cls(int(packed) // 2)
        self.saturated = bool(int(packed) % 2)
        self.table = np.frombuffer(
            memoryview(blob)[16:], np.uint16).reshape(
                self.n_buckets, self.SLOTS).copy()
        return self


def sidecar_from_bytes(blob: bytes):
    """Deserialize a seen-set sidecar blob by its header: a Bloom blob
    leads with n_bits>0, a cuckoo blob with MAGIC=-2.  Both results
    answer ``contains``/vectorized probes with maybe-seen semantics."""
    first = int(np.frombuffer(memoryview(blob)[:8], np.int64)[0])
    if first == CuckooBucket.MAGIC:
        return CuckooBucket.from_bytes(blob)
    return BloomFilter.from_bytes(blob)
