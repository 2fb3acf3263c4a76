"""Checkpoint table store: parquet directories + JSON snapshot manifest.

Local stand-in for the Iceberg tables the production deployment uses
(SURVEY.md §1.3). Semantics preserved so the swap is 1:1:

- one immutable snapshot per crawl round per table (Iceberg snapshot)
- atomic manifest commit (write-temp + rename = Iceberg's atomic
  metadata swap)
- time-travel: read any round's snapshot (resume = read last committed
  round; north rule "resumable from checkpoint with per-partition
  lineage")
- ``num_buckets`` host-hash bucketing on write — the analogue of an
  Iceberg ``bucket(P, host)`` partition spec; keeps seen/frontier
  co-partitioned so the per-round anti-join and groupBy(host) reuse
  the layout instead of reshuffling.

Merge-on-read deltas (Iceberg v2 semantics): ``write_delta`` commits
only one round's updates; ``read_snapshot`` lazily composes the
latest base snapshot with the delta chain through a per-table
combiner (the ``seen`` table's combiner is ``compose_seen``, the
window-function fold of the RocksDB merge operator). Compaction
(``compact_table``) burns the fold into a new base so the chain never
grows unboundedly; ``expire_snapshots`` is the matching maintenance
procedure for HISTORY growth (delete rounds no reader can need,
keeping the latest base + its deltas and a bounded time-travel tail —
an explicit call, like Iceberg's, so lineage/dump tooling keeps its
default reach). Per-round write cost is therefore proportional to
the round's updates, not |table| — the RocksDB blind-merge economics
of link_state/state/raw.rs:249-351 on snapshot storage.

In production every ``write_snapshot`` becomes ``MERGE INTO``/append
on an Iceberg table with
``write.parquet.bloom-filter-enabled.column.url=true``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from ..operators.seen_index import _atomic_write

# append-log tables: every round is live data (read via read_union) —
# the snapshot-expiry maintenance MUST refuse them (plans/view.py
# imports this set for its union-vs-snapshot read dispatch)
UNION_LOG_TABLES = {"results", "edges", "metrics", "order"}


def _as_nullable(dt: DataType) -> DataType:
    """The type a parquet read yields: file sources read every field,
    array element and map value as nullable (Scala ``asNullable``)."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


class CheckpointStore:
    def __init__(self, root: str, num_buckets: int = 32) -> None:
        self.root = root
        self.num_buckets = num_buckets
        os.makedirs(root, exist_ok=True)
        # merge-on-read combiners: table -> fn(base_df|None, [(round, df)]) -> df
        from ..operators.seen import compose_host_state, compose_seen

        self._combiners = {"seen": compose_seen, "host_state": compose_host_state}

    def register_combiner(self, table: str, fn) -> None:
        self._combiners[table] = fn

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, manifest: dict) -> None:
        os.makedirs(os.path.join(self.root, table), exist_ok=True)
        _atomic_write(self._manifest_path(table), json.dumps(manifest).encode())

    # -- write -------------------------------------------------------------
    def write_snapshot(
        self,
        table: str,
        df: DataFrame,
        round_no: int,
        bucket_by: str | None = None,
        meta: dict | None = None,
    ) -> str:
        """Write one snapshot; optionally host-hash bucketed on write."""
        return self._write(table, df, round_no, bucket_by, meta, delta=False)

    def write_delta(
        self,
        table: str,
        df: DataFrame,
        round_no: int,
        bucket_by: str | None = None,
        meta: dict | None = None,
    ) -> str:
        """Commit one round's UPDATES only (merge-on-read delta). Reads
        compose base + delta chain through the table's combiner; cost
        of this write is O(|updates|), never O(|table|)."""
        return self._write(table, df, round_no, bucket_by, meta, delta=True)

    def _write(
        self,
        table: str,
        df: DataFrame,
        round_no: int,
        bucket_by: str | None,
        meta: dict | None,
        delta: bool,
    ) -> str:
        """Write the round's parquet, then replace the round's manifest
        entry (a base ``r`` snapshot or a ``d`` delta) and commit."""
        path = os.path.join(self.root, table, f"{'d' if delta else 'r'}{round_no:05d}")
        if bucket_by is not None:
            df = df.repartition(
                self.num_buckets, F.pmod(F.xxhash64(F.col(bucket_by)), F.lit(self.num_buckets))
            )
        df.write.mode("overwrite").parquet(path)
        # the read schema rides the manifest, so reads pass it instead of
        # launching a schema-inference job per snapshot. It is recorded
        # in its read (all-nullable) form so that snapshots written by
        # plans differing only in nullability compare equal in read_union
        entry = {
            "round": round_no,
            "path": path,
            "bucket_by": bucket_by,
            "meta": meta or {},
            "schema": _as_nullable(df.schema).jsonValue(),
        }
        if delta:
            entry["kind"] = "delta"
        manifest = self._load_manifest(table)
        manifest["snapshots"] = [s for s in manifest["snapshots"] if s["round"] != round_no]
        manifest["snapshots"].append(entry)
        manifest["snapshots"].sort(key=lambda s: s["round"])
        self._commit_manifest(table, manifest)
        return path

    def compact_table(
        self, spark: SparkSession, table: str, bucket_by: str | None = None
    ) -> str | None:
        """Burn the composed view into a new base snapshot at the
        latest round (Iceberg rewrite-data-files maintenance). Later
        reads see a pure base; older rounds stay time-travelable."""
        snaps = self._load_manifest(table)["snapshots"]
        if not snaps:
            return None
        # only compact when there are deltas NEWER than the last base:
        # stale delta entries below an existing base are already folded
        # into it, and re-compacting would read and overwrite the same
        # parquet path (self-overwrite corruption)
        bases = [s for s in snaps if s.get("kind") != "delta"]
        last_base_round = bases[-1]["round"] if bases else -(1 << 62)
        if not any(
            s.get("kind") == "delta" and s["round"] > last_base_round for s in snaps
        ):
            return None
        latest = snaps[-1]["round"]
        merged = self.read_snapshot(spark, table, latest)
        return self.write_snapshot(table, merged, latest, bucket_by=bucket_by)

    # -- read --------------------------------------------------------------
    def latest_round(self, table: str) -> int | None:
        snaps = self._load_manifest(table)["snapshots"]
        return snaps[-1]["round"] if snaps else None

    def read_snapshot(
        self, spark: SparkSession, table: str, round_no: int | None = None
    ) -> DataFrame | None:
        """Read the table state as of ``round_no`` (default: latest).

        Base-only tables return the snapshot directly. Tables with
        merge-on-read deltas compose (latest base <= round) + (delta
        chain up to round) through the table's registered combiner —
        time travel works the same either way."""
        snaps = self._load_manifest(table)["snapshots"]
        if not snaps:
            return None
        if round_no is None:
            round_no = snaps[-1]["round"]
        elif not any(s["round"] == round_no for s in snaps):
            return None
        in_range = [s for s in snaps if s["round"] <= round_no]
        bases = [s for s in in_range if s.get("kind") != "delta"]
        base = bases[-1] if bases else None
        base_round = base["round"] if base else -(1 << 62)
        deltas = [
            s for s in in_range if s.get("kind") == "delta" and s["round"] > base_round
        ]
        if not deltas:
            return self._read(spark, [base]) if base else None
        combiner = self._combiners.get(table)
        if combiner is None:
            raise ValueError(
                f"table {table!r} has merge-on-read deltas but no registered combiner"
            )
        base_df = self._read(spark, [base]) if base else None
        delta_dfs = [(s["round"], self._read(spark, [s])) for s in deltas]
        return combiner(base_df, delta_dfs)

    def read_union(self, spark: SparkSession, table: str) -> DataFrame | None:
        """Union of all snapshots (append-log tables: results, edges,
        metrics, admission log)."""
        snaps = self._load_manifest(table)["snapshots"]
        if not snaps:
            return None
        return self._read(spark, snaps)

    @staticmethod
    def _read(spark: SparkSession, entries: list[dict]) -> DataFrame:
        """Read manifest entries with their recorded schema. Entries
        written before schemas were recorded, or entries whose schemas
        differ, fall back to parquet schema inference (one Spark job)."""
        schema = entries[0].get("schema")
        reader = spark.read
        if schema is not None and all(s.get("schema") == schema for s in entries):
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*[s["path"] for s in entries])

    def drop(self, table: str) -> None:
        shutil.rmtree(os.path.join(self.root, table), ignore_errors=True)

    def expire_snapshots(self, table: str, keep_last_n: int = 2) -> list[int]:
        """Iceberg ``expire_snapshots`` analog: delete snapshot files
        and manifest entries no reader can need, bounding storage on a
        long crawl (the manifest otherwise grows one entry — and one
        parquet directory — per round, forever).

        Protected, never expired:
        - the latest BASE and every entry after it (the composed
          current state reads through exactly these);
        - the newest ``keep_last_n`` rounds (bounded time travel for
          operators; resume needs at least the latest) — AND the base
          each of them composes from: a kept DELTA without its serving
          base would silently time-travel to delta-only state, so the
          cut point is the latest base at or below the oldest kept
          round, and everything from that base onward survives.

        Append-log tables (``UNION_LOG_TABLES``, read via
        ``read_union``) are refused — every round of a log IS live
        data; expiring them would destroy it.

        Everything older is removed from disk and manifest atomically
        (manifest commit is the same write-temp + rename as every
        other mutation; a crash between file deletion and manifest
        commit leaves only ALREADY-DELETED entries in the manifest,
        which the next expire call re-prunes). Returns the expired
        round numbers.
        """
        if table in UNION_LOG_TABLES:
            raise ValueError(
                f"table {table!r} is an append log (read_union): every round "
                "is live data and cannot be expired"
            )
        manifest = self._load_manifest(table)
        snaps = manifest["snapshots"]
        if not snaps:
            return []
        bases = [s["round"] for s in snaps if s.get("kind") != "delta"]
        last_base = max(bases) if bases else -(1 << 62)
        keep_tail = {s["round"] for s in snaps[-max(int(keep_last_n), 1):]}
        oldest_kept = min(keep_tail | {last_base})
        serving = [b for b in bases if b <= oldest_kept]
        # cut at the base that serves the oldest kept round; if none
        # exists (delta-only history), everything is protected
        cut = max(serving) if serving else -(1 << 62)
        if not bases:
            cut = -(1 << 62)
        expired = [s for s in snaps if s["round"] < cut]
        if not expired:
            return []
        for s in expired:
            shutil.rmtree(s["path"], ignore_errors=True)
        gone = {s["round"] for s in expired}
        manifest["snapshots"] = [s for s in snaps if s["round"] not in gone]
        self._commit_manifest(table, manifest)
        return sorted(gone)

    # -- driver-side stats (no Spark job) ------------------------------------
    def count_rows(self, table: str, round_no: int | None = None) -> int | None:
        """Row count from parquet footers via pyarrow — free on the
        driver, no Spark job (Iceberg equivalent: snapshot summary
        ``total-records``)."""
        import pyarrow.dataset as pads

        snaps = self._load_manifest(table)["snapshots"]
        if not snaps:
            return None
        if round_no is None:
            snap = snaps[-1]
        else:
            matching = [s for s in snaps if s["round"] == round_no]
            if not matching:
                return None
            snap = matching[0]
        return pads.dataset(snap["path"], format="parquet").count_rows()

    def read_small(self, table: str, round_no: int | None = None):
        """Read one (small!) snapshot driver-side as a pyarrow table."""
        import pyarrow.dataset as pads

        snaps = self._load_manifest(table)["snapshots"]
        if not snaps:
            return None
        snap = snaps[-1] if round_no is None else next(
            (s for s in snaps if s["round"] == round_no), None
        )
        if snap is None:
            return None
        return pads.dataset(snap["path"], format="parquet").to_table()
