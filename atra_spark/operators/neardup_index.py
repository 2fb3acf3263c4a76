"""Persistent cross-batch NEAR-duplicate index: MinHash-LSH band
buckets as an incremental, bucketed point-lookup store.

The exact analog already exists twice in this repo — the SeenIndex
(URL membership, operators/seen_index.py) and the streaming ingest's
digest dedup — but both are EXACT: a re-crawled page with one changed
ad survives them. This module is the fuzzy third leg: each arriving
batch (a new crawl snapshot, a WARC drop) is checked against ALL
previously admitted documents for near-duplicates at O(batch) cost,
never O(corpus) — the CommonCrawl-style "dedup the new crawl against
every prior crawl without re-scanning them" economics.

Reference semantics: the same seen/admission lifecycle as the crawl
state store (atra/src/crawl/seed.rs, raw.rs merge-operator fold);
near-dup detection per Broder resemblance sketches, banded per
Leskovec-Rajaraman-Ullman ch. 3 (the identical sketch family as
functions/dedup.minhash_lsh_candidates, so in-batch and cross-batch
dedup agree on what "near" means).

Design (mirrors SeenIndex, key differences called out):

- State = per-bucket parquet delta chains under a BucketStorage seam
  (LocalBucketStorage / FlatObjectBucketStorage — the same object-store
  abstraction as the SeenIndex). A band row is
  ``(bkey, id, h0..h{H-1})``: ``bkey = xxhash64(band, h_i.., salt)``
  routes the row; the full signature RIDES ALONG so candidate
  verification is a vectorized in-bucket compare — no second index
  round-trip per candidate (the storage trade: H extra int64 per band
  row, bought back by never touching a signature store on probe).
- Probe = ONE exchange of the batch's band rows on
  ``pmod(bkey, num_buckets)`` + one applyInPandas pass: each task
  loads only ITS bucket's delta chain (worker-local LRU with
  chain-prefix reuse — a warm probe reads exactly the newest delta
  file), binary-searches the sorted bkey column, and counts equal
  signature components per candidate. Nothing corpus-sized is ever
  shuffled or re-read.
- Admission is staged-then-committed exactly like SeenIndex rounds:
  ``admit()`` writes immutable per-bucket deltas and stages a manifest;
  ``commit()`` publishes it atomically AFTER the caller's own corpus
  commit, so a crashed batch can never flag future documents as dups
  of documents that were never stored.
- ``compact()`` folds each bucket's chain into one sorted base file
  (per-bucket, incremental — never a global rewrite).

Recall contract: a probe pair is verified with
``n_eq >= ceil(threshold * num_hashes)`` equal signature components.
For ``threshold > 1 - n_bands/num_hashes`` (e.g. > 0.5 at the default
8 hashes / 4 bands) the pigeonhole guarantees every qualifying pair
shares at least one intact band, so the banded index finds EXACTLY the
exhaustive-comparison result — the driver oracle
(sql_incremental_neardup) exploits this to verify the whole path
against plain SQL. Below that threshold the index degrades to standard
LSH recall (documented, same as the in-batch operators).

100 TB plan: per-batch cost is one O(batch x n_bands) shuffle plus
point reads of touched buckets; warm workers re-read only the newest
delta per bucket (chain-prefix cache); admission appends O(batch)
rows; compaction is per-bucket. The only corpus-sized work is a cold
bucket load, amortized across batches and bounded by corpus/B per
task.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
from collections import OrderedDict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .seen_index import _atomic_write, _cache_put, _default_storage

_FORMAT = "neardup-bands-v1"
_BUCKET_COL = "__ndx_bucket"

# worker-local probe cache: storage.key(bucket) -> (chain, bkey-sorted
# column arrays). Chain-PREFIX reuse: when the served chain extends the
# cached one, only the tail files are read (the per-batch warm path).
_BAND_CACHE: OrderedDict = OrderedDict()
_BAND_CACHE_CAP = 64


def _sig_cols(num_hashes: int) -> list[str]:
    return [f"h{i}" for i in range(num_hashes)]


def _write_band_table(storage, bucket: int, name: str, cols: dict) -> None:
    sink = pa.BufferOutputStream()
    pq.write_table(pa.table(cols), sink, compression="zstd")
    storage.write_bytes(bucket, name, sink.getvalue().to_pybytes())


def _read_band_table(storage, bucket: int, name: str) -> dict:
    t = pq.read_table(pa.BufferReader(storage.read_bytes(bucket, name)))
    return {c: t.column(c).to_numpy() for c in t.column_names}


def _load_bands(
    storage, bucket: int, chain: tuple[str, ...], num_hashes: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One bucket's band rows folded from its delta chain: returns
    (bkey sorted ascending, ids aligned, sigs aligned [n, H])."""
    key = storage.key(bucket)
    cached = _BAND_CACHE.get(key)
    start = 0
    prev = None
    if cached is not None:
        old_chain, arrs = cached
        if old_chain == chain[: len(old_chain)]:
            start = len(old_chain)
            prev = arrs
        # else: compaction replaced the chain -> rebuild from scratch
    if prev is not None and start == len(chain):
        _BAND_CACHE.move_to_end(key)
        return prev
    parts_k, parts_i, parts_s = [], [], []
    if prev is not None:
        parts_k.append(prev[0])
        parts_i.append(prev[1])
        parts_s.append(prev[2])
    for name in chain[start:]:
        cols = _read_band_table(storage, bucket, name)
        parts_k.append(cols["bkey"])
        parts_i.append(cols["id"])
        parts_s.append(
            np.column_stack([cols[c] for c in _sig_cols(num_hashes)])
            if len(cols["bkey"])
            else np.empty((0, num_hashes), dtype=np.int64)
        )
    bkey = np.concatenate(parts_k) if parts_k else np.empty(0, dtype=np.int64)
    ids = np.concatenate(parts_i) if parts_i else np.empty(0, dtype=np.int64)
    sigs = (
        np.concatenate(parts_s)
        if parts_s
        else np.empty((0, num_hashes), dtype=np.int64)
    )
    order = np.argsort(bkey, kind="stable")
    arrs = (bkey[order], ids[order], sigs[order])
    _cache_put(_BAND_CACHE, _BAND_CACHE_CAP, key, (tuple(chain), arrs))
    return arrs


class NearDupIndex:
    """Bucketed, persistent MinHash band index (see module docstring).

    Lifecycle per batch::

        flagged = idx.probe(batch)            # vs committed history
        fresh   = batch.join(flagged, "left_anti", on=id)
        ... caller commits fresh to its corpus store ...
        idx.admit(fresh, batch_no); idx.commit()

    Geometry (num_hashes / rows_per_band / k / num_buckets) is pinned
    in the manifest; a mismatch drops and rebuilds the index — like the
    SeenIndex it is a rebuildable CACHE over the admitted corpus
    (``rebuild``), never the corpus of record.
    """

    def __init__(
        self,
        root: str,
        num_buckets: int = 32,
        num_hashes: int = 8,
        rows_per_band: int = 2,
        k: int = 3,
        storage=None,
    ) -> None:
        if num_hashes % rows_per_band != 0:
            raise ValueError("num_hashes must be divisible by rows_per_band")
        self.root = root
        self.storage = storage if storage is not None else _default_storage(root)
        self.num_buckets = num_buckets
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.n_bands = num_hashes // rows_per_band
        self.k = k
        os.makedirs(root, exist_ok=True)
        self._manifest = self._load_manifest()
        geo = {
            "num_buckets": num_buckets,
            "num_hashes": num_hashes,
            "rows_per_band": rows_per_band,
            "k": k,
        }
        if self._manifest and (
            self._manifest.get("format") != _FORMAT
            or {g: self._manifest.get(g) for g in geo} != geo
        ):
            # destructive: a geometry/format mismatch re-routes every
            # band, so the persisted index is unusable — but dropping
            # hours of admitted state silently on a typo'd parameter is
            # a footgun (ADVICE r5): name the mismatch before reset
            import logging

            diffs = {
                g: (self._manifest.get(g), geo[g])
                for g in geo
                if self._manifest.get(g) != geo[g]
            }
            if self._manifest.get("format") != _FORMAT:
                diffs["format"] = (self._manifest.get("format"), _FORMAT)
            logging.getLogger(__name__).warning(
                "NearDupIndex at %s: geometry/format mismatch %s — "
                "dropping the persisted index and starting empty "
                "(manifest value, requested value)",
                root, diffs,
            )
            self.reset()
        self._pending: dict[str, dict] | None = None
        self._pending_batch: int | None = None

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
    def committed_batch(self) -> int | None:
        return self._manifest["batch"] if self._manifest else None

    def reset(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
        self._manifest = None
        self._pending = None
        self._pending_batch = None

    # -- shared plan fragments ----------------------------------------------
    def _band_rows(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """(id, bkey, h0..h{H-1}, bucket) — signatures are row-local
        (zero-shuffle, functions/dedup.minhash_signatures); the band
        fan-out is one Generate over a literal band-struct array, the
        bkey is JVM xxhash64 so probe/admit workers never hash."""
        from ..functions.dedup import minhash_signatures

        sig = minhash_signatures(
            df, text_col=text_col, id_col=id_col,
            num_hashes=self.num_hashes, k=self.k,
        )
        r = self.rows_per_band
        hs = _sig_cols(self.num_hashes)
        band_structs = F.array(
            *[
                F.struct(
                    F.xxhash64(
                        F.lit(b), *[F.col(hs[b * r + j]) for j in range(r)]
                    ).alias("bkey")
                )
                for b in range(self.n_bands)
            ]
        )
        return (
            sig.localCheckpoint(eager=False)
            .select("id", *hs, F.explode(band_structs).alias("_b"))
            .select(
                "id", F.col("_b.bkey").alias("bkey"), *hs,
                F.pmod(F.col("_b.bkey"), F.lit(self.num_buckets))
                .cast("int")
                .alias(_BUCKET_COL),
            )
        )

    # -- probe ---------------------------------------------------------------
    def probe(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
        max_span: int | None = None,
    ) -> DataFrame:
        """Near-duplicates of ``df`` against the COMMITTED history:
        ``(doc_id, dup_of, est_jaccard)`` with est_jaccard = equal
        signature components / num_hashes >= threshold; dup_of is the
        deterministic best match (max n_eq, then min id). Documents
        with fewer than k tokens carry no signature and are absent, as
        in every sketch operator in functions/dedup.

        ``max_span`` caps how many stored rows of ONE band bucket a
        probe row compares against (the hot-bucket guard every
        blocking operator in this repo declares: a bucket holding
        thousands of identical documents would otherwise make one
        task quadratic). None (default) is exact — required for the
        oracle-equality contract; under a cap the verdict stays
        deterministic (spans are enumerated in the folded chain's
        stable sort order) but recall inside over-full buckets is
        declared partial — any match that survives still IS a
        near-dup, so dedup stays sound, and a doc's duplicates in a
        capped bucket are still mutually banded in later probes."""
        spark = df.sparkSession
        H = self.num_hashes
        n_min = math.ceil(threshold * H)
        buckets_meta = (self._manifest or {}).get("buckets", {})
        if not buckets_meta:
            return spark.createDataFrame(
                [], f"{id_col} long, dup_of long, est_jaccard double"
            )
        chains = {int(b): tuple(v["deltas"]) for b, v in buckets_meta.items()}
        storage = self.storage
        bands = self._band_rows(df, text_col, id_col)

        out_schema = StructType(
            [
                StructField("id", LongType()),
                StructField("dup_of", LongType()),
                StructField("n_eq", IntegerType()),
            ]
        )

        def _probe(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf[_BUCKET_COL].iloc[0])
            chain = chains.get(b)
            if not chain:
                return pd.DataFrame({"id": [], "dup_of": [], "n_eq": []}).astype(
                    {"id": np.int64, "dup_of": np.int64, "n_eq": np.int32}
                )
            skey, sids, ssigs = _load_bands(storage, b, chain, H)
            ck = pdf["bkey"].to_numpy()
            cid = pdf["id"].to_numpy()
            csig = np.column_stack([pdf[c].to_numpy() for c in _sig_cols(H)])
            left = np.searchsorted(skey, ck, "left")
            right = np.searchsorted(skey, ck, "right")
            if max_span is not None:
                right = np.minimum(right, left + max_span)
            oi, od, oe = [], [], []
            for i in np.nonzero(right > left)[0]:
                span = slice(left[i], right[i])
                n_eq = (ssigs[span] == csig[i]).sum(axis=1)
                keep = (n_eq >= n_min) & (sids[span] != cid[i])
                if keep.any():
                    oi.append(np.full(int(keep.sum()), cid[i], dtype=np.int64))
                    od.append(sids[span][keep])
                    oe.append(n_eq[keep].astype(np.int32))
            if not oi:
                return pd.DataFrame({"id": [], "dup_of": [], "n_eq": []}).astype(
                    {"id": np.int64, "dup_of": np.int64, "n_eq": np.int32}
                )
            return pd.DataFrame(
                {
                    "id": np.concatenate(oi),
                    "dup_of": np.concatenate(od),
                    "n_eq": np.concatenate(oe),
                }
            )

        cand = bands.groupBy(_BUCKET_COL).applyInPandas(_probe, out_schema)
        from pyspark.sql import Window

        w = Window.partitionBy("id").orderBy(
            F.col("n_eq").desc(), F.col("dup_of").asc()
        )
        return (
            cand.dropDuplicates(["id", "dup_of"])
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("id").alias(id_col),
                "dup_of",
                (F.col("n_eq") / F.lit(float(H))).alias("est_jaccard"),
            )
        )

    def probe_within(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
    ) -> DataFrame:
        """Keep-first near-dup flags WITHIN one batch (no state read):
        ``(doc_id, dup_of, est_jaccard)`` for every doc that near-dups
        a SMALLER id in ``df`` — the intra-batch complement of
        ``probe`` (history always outranks the batch; inside the batch
        the lowest id wins). Entirely JVM: the band relation self-joins
        on bkey and the riding signatures verify in whole-stage
        codegen — same banded economics as the batch LSH operators,
        never all-pairs."""
        H = self.num_hashes
        n_min = math.ceil(threshold * H)
        bands = self._band_rows(df, text_col, id_col)
        hs = _sig_cols(H)
        a = bands.select(
            F.col("id").alias("ida"), "bkey", *[F.col(h).alias(f"a_{h}") for h in hs]
        )
        b = bands.select(
            F.col("id").alias("idb"), "bkey", *[F.col(h).alias(f"b_{h}") for h in hs]
        )
        n_eq = sum(
            F.when(F.col(f"a_{h}") == F.col(f"b_{h}"), 1).otherwise(0) for h in hs
        )
        cand = (
            a.join(b, on="bkey")
            .filter(F.col("ida") > F.col("idb"))
            .select("ida", "idb", n_eq.alias("n_eq"))
            .filter(F.col("n_eq") >= n_min)
            .dropDuplicates(["ida", "idb"])
        )
        from pyspark.sql import Window

        w = Window.partitionBy("ida").orderBy(
            F.col("n_eq").desc(), F.col("idb").asc()
        )
        return (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("ida").alias(id_col),
                F.col("idb").alias("dup_of"),
                (F.col("n_eq") / F.lit(float(H))).alias("est_jaccard"),
            )
        )

    # -- admit / commit -------------------------------------------------------
    def admit(
        self,
        df: DataFrame,
        batch_no: int,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> int:
        """Index one batch's documents (the caller's post-probe
        survivors). One task per touched bucket writes an immutable
        ``bands_b{N}.parquet`` delta; untouched buckets are not
        rewritten. Staged until ``commit()``. Returns band rows
        written."""
        storage = self.storage
        H = self.num_hashes
        bands = self._band_rows(df, text_col, id_col)
        out_schema = StructType(
            [
                StructField("bucket", IntegerType()),
                StructField("n", LongType()),
                StructField("delta_file", StringType()),
            ]
        )

        def _write(pdf: pd.DataFrame) -> pd.DataFrame:
            b = int(pdf[_BUCKET_COL].iloc[0])
            name = f"bands_b{batch_no:05d}.parquet"
            cols = {
                "bkey": pdf["bkey"].to_numpy(),
                "id": pdf["id"].to_numpy(),
            }
            for c in _sig_cols(H):
                cols[c] = pdf[c].to_numpy()
            _write_band_table(storage, b, name, cols)
            return pd.DataFrame(
                {"bucket": [b], "n": [len(pdf)], "delta_file": [name]}
            )

        rows = bands.groupBy(_BUCKET_COL).applyInPandas(_write, out_schema).collect()
        buckets_meta = (self._manifest or {}).get("buckets", {})
        pending = {b: dict(v) for b, v in buckets_meta.items()}
        n_total = 0
        for r in rows:
            b = str(r["bucket"])
            ent = pending.get(b, {"deltas": []})
            chain = list(ent.get("deltas", []))
            # replayed batch (streaming foreachBatch retry): the delta
            # file was atomically rewritten with the same row set —
            # keep the chain entry unique so the fold stays idempotent
            if r["delta_file"] not in chain:
                chain.append(r["delta_file"])
            ent["deltas"] = chain
            pending[b] = ent
            n_total += r["n"]
        self._pending = pending
        self._pending_batch = batch_no
        return n_total

    def commit(self) -> None:
        """Atomically publish the staged batch (tiny driver-side JSON).
        Call AFTER the caller's corpus commit — probes serve the last
        committed manifest only."""
        if self._pending is None:
            return
        manifest = {
            "batch": self._pending_batch,
            "format": _FORMAT,
            "num_buckets": self.num_buckets,
            "num_hashes": self.num_hashes,
            "rows_per_band": self.rows_per_band,
            "k": self.k,
            "buckets": self._pending,
        }
        _atomic_write(self._manifest_path(), json.dumps(manifest).encode())
        self._manifest = manifest
        self._pending = None
        self._pending_batch = None

    def rebuild(self, df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> None:
        """Recovery / geometry change: drop and re-index the admitted
        corpus in one pass (the index is a cache, never the record)."""
        self.reset()
        self.admit(df, 0, text_col=text_col, id_col=id_col)
        self.commit()

    # -- maintenance ------------------------------------------------------------
    @staticmethod
    def _compact_bucket(
        storage, bucket: int, chain: list[str], base_name: str, num_hashes: int
    ) -> None:
        """Fold ONE bucket's delta chain into a bkey-sorted base file —
        runs on the driver (local path) or inside an executor task
        (distributed path), all I/O through the storage seam.

        Crash safety (ADVICE r5, medium): write-only — superseded chain
        files are garbage-collected by ``compact()`` only AFTER the new
        manifest is published, so a crash or Spark task retry anywhere
        in here leaves the committed manifest's chain fully readable
        and the task idempotent (a retry re-reads the still-present
        chain and rewrites the same base)."""
        bkey, ids, sigs = _load_bands(storage, bucket, tuple(chain), num_hashes)
        cols = {"bkey": bkey, "id": ids}
        for j, c in enumerate(_sig_cols(num_hashes)):
            cols[c] = sigs[:, j].copy()
        _write_band_table(storage, bucket, base_name, cols)

    def compact(self, spark=None) -> None:
        """Fold each bucket's delta chain into one bkey-sorted base
        file (per-bucket and incremental, through the storage seam —
        never a global rewrite). With a SparkSession the fold runs as
        ONE DISTRIBUTED job, one task per bucket (same shape as
        ``admit`` — nothing bucket-sized touches the driver); without
        one it loops buckets driver-side (fine on local/shared fs).
        Probe caches key on the chain, so a compacted chain misses
        once and reloads one file."""
        if not self._manifest:
            return
        H = self.num_hashes
        batch = self._manifest["batch"]
        buckets = self._manifest["buckets"]
        base = f"bands_base_b{batch:05d}.parquet"
        work = [
            (int(b), list(ent.get("deltas", [])))
            for b, ent in buckets.items()
            if len(ent.get("deltas", [])) > 1
        ]
        if spark is not None and work:
            storage = self.storage
            compact_one = NearDupIndex._compact_bucket

            def _task(pdf: pd.DataFrame) -> pd.DataFrame:
                for row in pdf.itertuples(index=False):
                    compact_one(
                        storage, int(row.bucket), json.loads(row.chain), base, H
                    )
                return pdf[["bucket"]]

            spark.createDataFrame(
                [(b, json.dumps(ch)) for b, ch in work],
                "bucket int, chain string",
            ).repartition(len(work), F.col("bucket")).groupBy("bucket").applyInPandas(
                _task,
                StructType([StructField("bucket", IntegerType())]),
            ).count()
        else:
            for b, ch in work:
                NearDupIndex._compact_bucket(self.storage, b, ch, base, H)
        # two-phase publish (ADVICE r5, medium): bases are written
        # above; commit the manifest pointing at [base] FIRST, and only
        # then GC the now-unreferenced chain files. A crash before the
        # publish leaves the old manifest + intact chains; a crash
        # during GC leaves unreferenced band files that the sweep below
        # removes on the next compaction (every bands file at or below
        # the compacted batch that the new manifest does not reference).
        for b, _ch in work:
            buckets[str(b)]["deltas"] = [base]
        manifest = dict(self._manifest)
        manifest["buckets"] = buckets
        _atomic_write(self._manifest_path(), json.dumps(manifest).encode())
        self._manifest = manifest
        bands_re = re.compile(r"^bands(?:_base)?_b(\d+)\.parquet$")
        for b, _ch in work:
            live = set(buckets[str(b)].get("deltas", []))
            for name in self.storage.list_bucket(b):
                m_f = bands_re.match(name)
                # never touch files from batches NEWER than the
                # compacted manifest batch (staged-but-uncommitted)
                if m_f and int(m_f.group(1)) <= batch and name not in live:
                    self.storage.remove(b, name)
