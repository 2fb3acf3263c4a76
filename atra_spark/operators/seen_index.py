"""Persistent per-bucket seen-set membership + link-state index.

The reference answers "have I seen this URL?" and "what state is it
in?" with RocksDB point lookups: an in-block bloom check first, then
the exact key lookup (``key_may_exist_cf``,
atra/src/recrawl_management/mod.rs:62; exact get + merge-operator fold
in link_state/db.rs, the dequeue state check at
queue/.../polling.rs:180-204). This module is that storage engine
mapped onto Spark's execution model, and the engine's only URL-seen
membership implementation:

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
  (``filter_by_state``) are one ``mapInPandas`` kernel
  (``_latest_kinds``): each task loads ONLY its buckets' bitmaps (and,
  only for rows the bloom cannot reject, that bucket's delta chain)
  from shared storage, with a per-worker LRU cache across tasks keyed
  by the index's incarnation, so a reset index never serves a warm
  worker's bitmaps or hash sets from before the reset.

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
bucket — one small read per task, never a 12 GB
broadcast. Exact-confirm deltas are ~2.4M URLs/bucket (~41 MB of
hash-pair+kind rows, vs ~200 MB as URL strings), read only by tasks
whose batch has bloom hits and cached across tasks by delta chain
(the chain grows by one small file per round, so a warm worker reads
only the newest delta).

The index is a rebuildable cache over the committed ``seen`` table:
the manifest is committed by the driver only after the round's store
commits succeed, and resume-from-checkpoint rebuilds the index from
the seen snapshot when the manifest round disagrees. That lifecycle
(manifest, format/geometry check, staged chains, atomic commit,
two-phase per-bucket compaction) is ``DeltaChainIndex``, which the
NearDupIndex (operators/neardup_index.py) shares.
"""

from __future__ import annotations

import json
import logging
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

from ..schemas import KIND_DISCOVERED

# manifests written before the incarnation id existed read as this one
_DEFAULT_INCARNATION = "0"
_K_HASHES = 7  # bloom hash count, optimal for ~1% fp
_KEEP_BLOOMS = 2  # newest bitmaps per bucket that compaction keeps
_BUCKET_COL = "_si_bucket"
_H1_COL = "_si_h1"
_H2_COL = "_si_h2"
_KIND_COL = "_si_kind"

log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# per-worker caches (live in the reused Python worker processes; an
# executor only ever caches the buckets it actually probed)
# ---------------------------------------------------------------------------
_BLOOM_CACHE: OrderedDict[tuple[str, str], np.ndarray] = OrderedDict()
_HASHSET_CACHE: OrderedDict[tuple[str, str], tuple[tuple, tuple]] = OrderedDict()
_BLOOM_CACHE_CAP = 256
_HASHSET_CACHE_CAP = 64


def _new_incarnation() -> str:
    """Id of one life of an index directory: minted on every reset, so
    files rewritten under the same names never hit warm worker caches."""
    return uuid.uuid4().hex


def _manifest_incarnation(manifest: dict | None) -> str:
    """The committed incarnation, or a fresh one for an empty index."""
    if manifest is None:
        return _new_incarnation()
    return manifest.get("incarnation", _DEFAULT_INCARNATION)


def _positions(h: np.ndarray, m: int) -> list[np.ndarray]:
    """k bit positions from a single 64-bit hash (Kirsch-Mitzenmacher:
    pos_i = h1 + i*h2 mod m). Bitmaps on disk depend on these exact
    positions."""
    hu = h.astype(np.uint64)
    h1 = hu & np.uint64(0xFFFFFFFF)
    h2 = (hu >> np.uint64(32)) | np.uint64(1)
    return [((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64) for i in range(_K_HASHES)]


def _cache_put(cache: OrderedDict, cap: int, key, value) -> None:
    cache[key] = value
    cache.move_to_end(key)
    while len(cache) > cap:
        cache.popitem(last=False)


def _load_bloom(storage, incarnation: str, bucket: int, name: str) -> np.ndarray:
    key = (incarnation, storage.key(bucket, name))
    bits = _BLOOM_CACHE.get(key)
    if bits is None:
        bits = np.frombuffer(storage.read_bytes(bucket, name), dtype=np.uint8)
        _cache_put(_BLOOM_CACHE, _BLOOM_CACHE_CAP, key, bits)
    else:
        _BLOOM_CACHE.move_to_end(key)
    return bits


def _load_chain(cache, cap, storage, incarnation, bucket, chain, read, fold):
    """One bucket's delta chain folded into one value, LRU-cached per
    worker under (incarnation, bucket). When the cached chain is a
    PREFIX of ``chain`` only the new tail files are read and folded
    onto the cached value (the per-round warm path reads exactly one
    small file); any other chain (compaction replaced it) refolds from
    scratch. ``read`` returns one file's column arrays; ``fold`` gets
    each column concatenated in chain order, the cached (already
    folded) rows first."""
    key = (incarnation, storage.key(bucket))
    cached = cache.get(key)
    if cached is not None and cached[0] == chain:
        cache.move_to_end(key)
        return cached[1]
    if cached is not None and cached[0] == chain[: len(cached[0])]:
        start, parts = len(cached[0]), [cached[1]]
    else:
        start, parts = 0, []
    parts += [read(bucket, name) for name in chain[start:]]
    value = fold(*(np.concatenate(cols) for cols in zip(*parts)))
    _cache_put(cache, cap, key, (tuple(chain), value))
    return value


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
    storage, incarnation: str, bucket: int, deltas: tuple[str, ...]
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact (hash-pair -> latest kind) set for one bucket = fold of its
    delta parquets in chain order, lexsorted by (h1, h2) with one row
    per pair."""
    return _load_chain(
        _HASHSET_CACHE, _HASHSET_CACHE_CAP, storage, incarnation, bucket,
        deltas, storage.read_pairs, _dedup_last,
    )


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


def _latest_kinds(
    storage,
    incarnation: str,
    buckets: dict[int, tuple[str, tuple[str, ...]]],
    b_arr: np.ndarray,
    h1_arr: np.ndarray,
    h2_arr: np.ndarray,
) -> np.ndarray:
    """The probe kernel behind ``prune_new`` and ``filter_by_state``:
    each row's latest indexed kind, or -1 when its URL is absent.
    Per bucket: bloom test first (a miss is definitely absent), then
    only the rows the bloom cannot reject are confirmed against the
    bucket's exact hash-pair set."""
    kinds = np.full(len(b_arr), -1, dtype=np.int32)
    for b in np.unique(b_arr):
        meta = buckets.get(int(b))
        if meta is None:  # bucket never indexed
            continue
        bloom_name, deltas = meta
        if not deltas:
            continue
        rows = np.nonzero(b_arr == b)[0]
        bits = _load_bloom(storage, incarnation, int(b), bloom_name)
        m = len(bits) * 8
        maybe = np.ones(len(rows), dtype=bool)
        for pos in _positions(h1_arr[rows], m):
            maybe &= (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        rows = rows[maybe]
        if len(rows):
            s1, s2, sk = _load_hashset(storage, incarnation, int(b), deltas)
            kinds[rows] = _pair_lookup(h1_arr[rows], h2_arr[rows], s1, s2, sk)
    return kinds


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


class LocalBucketStorage:
    """Bucket-object I/O for the SeenIndex and the NearDupIndex.

    Every byte an index reads or writes — bloom bitmaps, hash-pair and
    band parquets, one directory per bucket — goes through this
    object, on the driver AND inside executor tasks (it is a plain
    picklable value: just the root path). It is the only backend: it
    serves local[n] and shared-filesystem clusters. Tests pass a
    counting subclass through ``storage=`` to see every read. Cache
    keys are storage-scoped so two indexes never alias each other's
    worker-side LRU entries."""

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


class DeltaChainIndex:
    """The lifecycle both bucket indexes share (``SeenIndex``,
    ``NearDupIndex``): each bucket holds a chain of immutable delta
    files, and one small manifest under ``root`` names every bucket's
    chain. A subclass sets ``_FORMAT``, ``_SEQ_KEY`` (the manifest key
    of the committed round or batch), the file prefixes
    ``_DELTA_PREFIX``/``_BASE_PREFIX`` (files are named
    ``{prefix}{seq:05d}.parquet``) and ``_fold_bucket``, and indexes
    rows through ``_add``.

    - The manifest records the format, the geometry and the index's
      incarnation. A manifest whose format or geometry differs from the
      requested one is dropped, with a warning that names each
      mismatched value: a different geometry re-routes every key, and
      the index is a rebuildable cache over its source table, never the
      record.
    - ``_add`` writes deltas and stages the chains; ``commit`` publishes
      them atomically, AFTER the caller's own commit. Probes serve the
      last committed manifest only, so a crashed round or batch never
      becomes visible.
    - ``compact`` is two-phase: its tasks only write base files, the
      manifest naming them is published next, and only then are the
      superseded files removed. A crash before the publish leaves the
      old manifest and its intact chains; a crash during the removal
      leaves unreferenced files, which the next compaction sweeps.
    """

    _FORMAT: object
    _SEQ_KEY: str
    _DELTA_PREFIX: str
    _BASE_PREFIX: str

    def __init__(
        self,
        root: str,
        storage: LocalBucketStorage | None,
        geometry: dict,
        pinned: dict | None = None,
    ) -> None:
        """``geometry`` and ``pinned`` values are both recorded in the
        manifest; only a ``geometry`` mismatch drops the index here, a
        ``pinned`` one is the subclass's to judge."""
        self.root = root
        self.storage = storage if storage is not None else LocalBucketStorage(root)
        self._fields = {**(pinned or {}), **geometry}
        os.makedirs(root, exist_ok=True)
        self._manifest = self._load_manifest()
        self._incarnation = _manifest_incarnation(self._manifest)
        self._pending: dict[str, dict] | None = None
        self._pending_seq: int | None = None
        if self._manifest:
            wanted = {"format": self._FORMAT, **geometry}
            stale = {
                k: (self._manifest.get(k), v)
                for k, v in wanted.items()
                if self._manifest.get(k) != v
            }
            if stale:
                log.warning(
                    "%s at %s: format/geometry mismatch %s (manifest value, "
                    "requested value): dropping the index, which starts empty "
                    "until it is rebuilt",
                    type(self).__name__, root, stale,
                )
                self.reset()

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _load_manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    @property
    def _committed(self) -> int | None:
        return self._manifest[self._SEQ_KEY] if self._manifest else None

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
        self._manifest = None
        self._incarnation = _new_incarnation()
        self._pending = None
        self._pending_seq = None

    def _add(self, df: DataFrame, bucket_col: str, seq: int, write, fields=()) -> int:
        """Index ``df`` as round/batch ``seq`` in one distributed job:
        one task per touched bucket calls ``write(storage, bucket,
        delta_name, pdf)``, which writes the bucket's delta file and
        returns the values of the manifest-entry ``fields`` it set.
        Buckets with no rows are untouched. The new chains are staged
        until ``commit``; a chain entry stays unique, because a replayed
        round or batch rewrites its delta under the same name. Returns
        the number of rows written."""
        storage = self.storage
        delta = f"{self._DELTA_PREFIX}{seq:05d}.parquet"

        def _task(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf[bucket_col].iloc[0])
            values = write(storage, b, delta, pdf)
            return pd.DataFrame(
                {"bucket": [b], "n": [len(pdf)], **{f: [values[f]] for f in fields}}
            )

        schema = StructType(
            [StructField("bucket", IntegerType()), StructField("n", LongType())]
            + [StructField(f, StringType()) for f in fields]
        )
        rows = df.groupBy(bucket_col).applyInPandas(_task, schema).collect()
        pending = {b: dict(v) for b, v in (self._manifest or {}).get("buckets", {}).items()}
        for r in rows:
            ent = pending.setdefault(str(r["bucket"]), {})
            ent.update({f: r[f] for f in fields})
            chain = ent.get("deltas", [])
            ent["deltas"] = chain if delta in chain else chain + [delta]
        self._pending = pending
        self._pending_seq = seq
        return sum(r["n"] for r in rows)

    def commit(self) -> None:
        """Atomically publish the staged chains (driver-side, tiny
        JSON). Call AFTER the caller's own tables committed."""
        if self._pending is None:
            return
        manifest = {
            self._SEQ_KEY: self._pending_seq,
            "format": self._FORMAT,
            **self._fields,
            "incarnation": self._incarnation,
            "buckets": self._pending,
        }
        _atomic_write(self._manifest_path(), json.dumps(manifest).encode())
        self._manifest = manifest
        self._pending = None
        self._pending_seq = None

    def compact(self, spark) -> None:
        """Fold each bucket's delta chain into one base file as ONE
        distributed job, one ``_fold_bucket`` task per bucket (nothing
        bucket-sized touches the driver). A task only writes; the
        manifest naming the bases is published before any superseded
        file is removed. The sweep then removes every chain file at or
        below the compacted round/batch that the manifest does not name
        (newer files may be staged but uncommitted), so orphans of an
        interrupted sweep go on the next compaction. Probe caches key
        on the chain, so a compacted chain misses once and reloads one
        file."""
        if not self._manifest:
            return
        seq = self._manifest[self._SEQ_KEY]
        base = f"{self._BASE_PREFIX}{seq:05d}.parquet"
        buckets = self._manifest["buckets"]
        if buckets:
            storage, fold = self.storage, self._fold_bucket

            def _task(pdf: pd.DataFrame) -> pd.DataFrame:
                for b, entry in zip(pdf["bucket"], pdf["entry"]):
                    entry = json.loads(entry)
                    fold(storage, int(b), entry, base if len(entry["deltas"]) > 1 else None)
                return pdf[["bucket"]]

            spark.createDataFrame(
                [(int(b), json.dumps(ent)) for b, ent in buckets.items()],
                "bucket int, entry string",
            ).repartition(len(buckets), F.col("bucket")).groupBy("bucket").applyInPandas(
                _task, StructType([StructField("bucket", IntegerType())])
            ).count()
        for ent in buckets.values():
            if len(ent["deltas"]) > 1:
                ent["deltas"] = [base]
        _atomic_write(self._manifest_path(), json.dumps(self._manifest).encode())
        chain_re = re.compile(rf"^(?:{self._DELTA_PREFIX}|{self._BASE_PREFIX})(\d+)\.parquet$")
        for b, ent in buckets.items():
            for name in self.storage.list_bucket(int(b)):
                m = chain_re.match(name)
                if m and int(m.group(1)) <= seq and name not in ent["deltas"]:
                    self.storage.remove(int(b), name)


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


class SeenIndex(DeltaChainIndex):
    """Bucketed membership + state index under ``root`` (one dir per
    bucket), on the ``DeltaChainIndex`` lifecycle.

    Lifecycle per round: ``add_urls`` (distributed Spark job; executors
    write bloom + delta files for their buckets) -> the engine commits
    the round's store tables -> ``commit`` (driver writes the tiny
    manifest atomically). Probes serve the last committed manifest
    only, so a crashed round can never drop a candidate that was
    indexed but not committed.
    """

    _FORMAT = 3  # v3: deltas carry the link-state kind (state lookups served here)
    _SEQ_KEY = "round"
    _DELTA_PREFIX = "hashes_r"
    _BASE_PREFIX = "hashes_base_r"

    def __init__(
        self,
        root: str,
        num_buckets: int = 32,
        bloom_bits: int = 1 << 20,
        storage: LocalBucketStorage | None = None,
    ) -> None:
        self.num_buckets = num_buckets
        self.bloom_bits = bloom_bits
        # a stale format or bucket count drops the index first (resume
        # rebuilds it from the seen snapshot); only a manifest that
        # survives that is held to the bloom size
        super().__init__(
            root, storage, {"num_buckets": num_buckets}, pinned={"bloom_bits": bloom_bits}
        )
        if self._manifest and self._manifest["bloom_bits"] != bloom_bits:
            raise ValueError(
                f"seen-index bloom geometry mismatch: manifest m="
                f"{self._manifest['bloom_bits']} vs requested {bloom_bits} "
                "(bitmaps of different m are position-incompatible)"
            )

    committed_round = DeltaChainIndex._committed

    # -- build / maintain --------------------------------------------------
    def add_urls(self, df: DataFrame, round_no: int) -> int:
        """Index one round's state rows (columns ``url`` [+ ``kind``];
        a missing kind column means Discovered — pure membership use).
        Distributed: one task per touched bucket reads that bucket's
        current bitmap, ORs in the new URLs' bits, and writes an
        immutable ``bloom_r{N}`` bitmap + a ``hashes_r{N}.parquet``
        delta (two int64 hash columns + kind, never URL strings). A URL
        already indexed may appear again with a new kind: the chain
        fold makes the newest kind win (the merge-operator semantics).
        Returns the number of URLs staged."""
        m = self.bloom_bits
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

        def _write(storage, b: int, delta: str, pdf: pd.DataFrame) -> dict:
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
            storage.write_pairs(
                b,
                delta,
                pdf[_H1_COL].to_numpy(),
                pdf[_H2_COL].to_numpy(),
                pdf[_KIND_COL].to_numpy(),
            )
            return {"bloom": bloom_name}

        return self._add(hashed, _BUCKET_COL, round_no, _write, ("bloom",))

    def rebuild(self, seen_urls: DataFrame, round_no: int) -> None:
        """Recovery: drop and re-index from the committed seen table
        (columns url [+ kind] — pass the composed seen state so the
        index serves the latest kinds)."""
        self.reset()
        self.add_urls(seen_urls, round_no)
        self.commit()

    @staticmethod
    def _fold_bucket(storage, bucket: int, entry: dict, base: str | None) -> None:
        """Compaction task for ONE bucket: fold its delta chain into the
        deduped ``base`` file (latest kind per pair — the chain fold
        burned in; None when the chain is one file already), then GC
        superseded bloom bitmaps, keeping the newest ``_KEEP_BLOOMS``
        and always the manifest's live one. Write-only for the chain,
        so a crashed or retried task leaves the committed chain
        readable and the rewrite idempotent."""
        if base is not None:
            parts = [storage.read_pairs(bucket, d) for d in entry["deltas"]]
            folded = _dedup_last(*(np.concatenate(cols) for cols in zip(*parts)))
            storage.write_pairs(bucket, base, *folded)
        blooms = sorted(
            f for f in storage.list_bucket(bucket)
            if f.startswith("bloom_r") and f.endswith(".bin")
        )
        for f_old in blooms[:-_KEEP_BLOOMS]:
            if f_old != entry["bloom"]:
                storage.remove(bucket, f_old)

    # -- probe ---------------------------------------------------------------
    def _buckets_meta(self) -> dict[int, tuple[str, tuple[str, ...]]]:
        return {
            int(b): (v["bloom"], tuple(v.get("deltas", [])))
            for b, v in ((self._manifest or {}).get("buckets", {})).items()
        }

    def _with_kinds(self, df: DataFrame, aligned: bool, out_schema: StructType, select):
        """``df`` through the probe kernel: ``select(pdf, kinds)`` gets
        each Arrow batch with its rows' latest kinds (-1 = absent) and
        returns the output rows, or None to emit nothing."""
        storage = self.storage
        incarnation = self._incarnation
        buckets = self._buckets_meta()
        tagged = df.select(
            "*",
            *_hash_cols(F.col("url")),
            F.pmod(F.hash("url"), F.lit(self.num_buckets)).cast("int").alias(_BUCKET_COL),
        )
        if not aligned:
            tagged = tagged.repartition(self.num_buckets, F.col(_BUCKET_COL))

        def _probe(batches):
            for pdf in batches:
                kinds = _latest_kinds(
                    storage,
                    incarnation,
                    buckets,
                    pdf[_BUCKET_COL].to_numpy(),
                    pdf[_H1_COL].to_numpy(),
                    pdf[_H2_COL].to_numpy(),
                )
                out = select(pdf, kinds)
                if out is not None:
                    yield out

        return tagged.mapInPandas(_probe, out_schema)

    def prune_new(self, candidates: DataFrame, aligned: bool = False) -> DataFrame:
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
        promises ``candidates`` is already hash-partitioned by ``url``
        with ``num_buckets`` partitions (the natural output of
        ``groupBy(url)`` when spark.sql.shuffle.partitions ==
        num_buckets — the engine's candidate aggregation), so the
        probe adds ZERO exchange. Misaligned input would still be
        CORRECT (each task loads whatever buckets it sees), only
        slower, but the engine pins alignment with a plan test."""
        out_cols = candidates.columns

        def _new_rows(pdf, kinds):
            keep = kinds < 0
            return pdf.loc[keep, out_cols] if keep.any() else None

        return self._with_kinds(candidates, aligned, candidates.schema, _new_rows)

    def filter_by_state(
        self,
        df: DataFrame,
        keep_kinds: tuple[int, ...] | None,
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

        Same kernel and economics as ``prune_new``: no seen-table scan,
        no broadcast; each task reads only the bitmaps + chains of the
        buckets its rows hash to, LRU-cached across tasks — per-round
        read cost tracks the probe side (the frontier), never |seen|.
        """
        out_cols = df.columns
        fields = list(df.schema.fields)
        if with_kind:
            fields = fields + [StructField("kind", IntegerType(), True)]
        keep_arr = None if keep_kinds is None else np.asarray(sorted(keep_kinds), dtype=np.int32)

        def _kept_rows(pdf, kinds):
            keep = np.ones(len(pdf), dtype=bool) if keep_arr is None else np.isin(kinds, keep_arr)
            if not keep.any():
                return None
            sub = pdf.loc[keep, out_cols]
            if with_kind:
                ks = kinds[keep]
                karr = pd.array(ks, dtype="Int32")
                karr[ks < 0] = pd.NA
                sub = sub.assign(kind=karr)
            return sub

        return self._with_kinds(df, False, StructType(fields), _kept_rows)
