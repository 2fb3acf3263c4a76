"""SeenIndex: the persistent bucket-partitioned seen-set membership
index (bloom probe + exact URL confirm, operators/seen_index.py).

Contract under test (the RocksDB point-lookup analog,
atra/src/recrawl_management/mod.rs:62 + link_state/db.rs):
- prune_new(candidates) == candidates LEFT ANTI JOIN seen (exact, no
  bloom false positives leak through: every bloom hit is confirmed
  against the bucket's URL delta chain)
- incremental: each round appends ONE delta per touched bucket; the
  bloom bitmap is rewritten only for touched buckets; nothing is ever
  rebuilt from scratch in the normal path
- persistent: a fresh SeenIndex over the same directory serves the
  same answers (resume contract)
- plan shape: the probe plan contains NO BroadcastExchange and no
  join against the seen table — one exchange on the bucket column
  feeding a single mapInPandas
"""

from __future__ import annotations

import json
import logging

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from atra_spark.operators.neardup_index import NearDupIndex
from atra_spark.operators.seen_index import (
    LocalBucketStorage,
    SeenIndex,
    _hash_cols,
    _latest_kinds,
)
from atra_spark.schemas import KIND_DISCOVERED, KIND_PROCESSED_AND_STORED
from test_neardup_index import _corpus, _docs, _probe_set


def filter_state(
    frontier: DataFrame, seen: DataFrame, allow_recrawl: bool = False
) -> DataFrame:
    """Reference for ``operators.frontier.filter_state_indexed``: the
    dequeue state check (polling.rs:180-204) as a join on the composed
    seen TABLE. Only Discovered URLs proceed; with ``allow_recrawl``,
    ProcessedAndStored URLs pass too, tagged ``is_recrawl``."""
    if not allow_recrawl:
        discovered = seen.filter(F.col("kind") == KIND_DISCOVERED).select("url")
        return frontier.join(discovered, on="url", how="left_semi")
    joined = frontier.join(seen.select("url", "kind"), on="url", how="left")
    keep = (F.col("kind") == KIND_DISCOVERED) | (
        F.col("kind") == KIND_PROCESSED_AND_STORED
    )
    return (
        joined.filter(keep)
        .withColumn("is_recrawl", F.col("kind") == KIND_PROCESSED_AND_STORED)
        .drop("kind")
    )


def _urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _cands_df(spark, urls):
    return spark.createDataFrame(
        [(u, f"h{i % 3}.example", i % 4, i % 5, i) for i, u in enumerate(urls)],
        "url string, host string, depth_on_website long, "
        "distance_to_seed long, total_distance_to_seed long",
    )


def _probe_keys(spark, urls, num_buckets):
    """(bucket, h1, h2) per URL, as the probe kernel receives them."""
    return np.array(
        _urls_df(spark, urls)
        .select(F.pmod(F.hash("url"), F.lit(num_buckets)), *_hash_cols(F.col("url")))
        .collect(),
        dtype=np.int64,
    )


SEEN = [f"https://s{i}.example/p{j}" for i in range(7) for j in range(40)]
NEW = [f"https://n{i}.example/q{j}" for i in range(5) for j in range(30)]


class TestSeenIndexCorrectness:
    def test_prune_matches_exact_antijoin(self, spark, tmp_path):
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=8, bloom_bits=1 << 14)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        cands = _cands_df(spark, SEEN[::3] + NEW)  # mix seen + new
        got = sorted(r["url"] for r in idx.prune_new(cands).collect())
        assert got == sorted(NEW)
        # full candidate row survives untouched
        row = idx.prune_new(cands).filter(F.col("url") == NEW[0]).collect()[0]
        assert row["host"].endswith(".example") and row["total_distance_to_seed"] >= 0

    def test_no_false_positive_leaks_with_tiny_bloom(self, spark, tmp_path):
        """A deliberately undersized bloom (64 bits/bucket for 280
        URLs) makes almost every probe a 'maybe' — the exact confirm
        must still yield a perfect anti-join."""
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=4, bloom_bits=64)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        got = sorted(r["url"] for r in idx.prune_new(_cands_df(spark, SEEN + NEW)).collect())
        assert got == sorted(NEW)

    def test_incremental_rounds_and_persistence(self, spark, tmp_path):
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=8, bloom_bits=1 << 14)
        idx.add_urls(_urls_df(spark, SEEN[:100]), 0)
        idx.commit()
        idx.add_urls(_urls_df(spark, SEEN[100:]), 1)
        idx.commit()
        # fresh instance over the same dir (resume)
        idx2 = SeenIndex(root, num_buckets=8, bloom_bits=1 << 14)
        assert idx2.committed_round == 1
        got = sorted(r["url"] for r in idx2.prune_new(_cands_df(spark, SEEN + NEW)).collect())
        assert got == sorted(NEW)

    def test_uncommitted_round_is_invisible(self, spark, tmp_path):
        """A crashed round (files written, manifest not committed) must
        not drop candidates: probes serve the last committed manifest."""
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=4, bloom_bits=1 << 12)
        idx.add_urls(_urls_df(spark, SEEN[:50]), 0)
        idx.commit()
        idx.add_urls(_urls_df(spark, SEEN[50:100]), 1)  # NOT committed
        got = {r["url"] for r in idx.prune_new(_cands_df(spark, SEEN[:100])).collect()}
        assert got == set(SEEN[50:100])

    def test_geometry_mismatch_raises(self, tmp_path, spark):
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 12)
        idx.add_urls(_urls_df(spark, SEEN[:10]), 0)
        idx.commit()
        with pytest.raises(ValueError, match="geometry"):
            SeenIndex(root, num_buckets=4, bloom_bits=1 << 13)


class TestSeenIndexIncrementality:
    def test_delta_files_per_round_not_per_corpus(self, spark, tmp_path):
        """The write cost of round N is proportional to round N's new
        URLs, not |seen| (VERDICT r2 'What's wrong' #2): each round
        adds at most one delta file per touched bucket and rewrites
        only touched buckets' bitmaps."""
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 14)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()

        def _snapshot():
            return {b: idx.storage.list_bucket(b) for b in range(4)}

        before = _snapshot()
        # a round that touches exactly one URL -> exactly one bucket
        idx.add_urls(_urls_df(spark, ["https://lonely.example/x"]), 1)
        idx.commit()
        after = _snapshot()
        changed = [b for b in after if after[b] != before.get(b, [])]
        assert len(changed) == 1  # one bucket touched
        new_files = set(after[changed[0]]) - set(before[changed[0]])
        assert {f.split(".")[-1] for f in new_files} == {"bin", "parquet"}
        # untouched buckets: byte-identical file lists (no rewrite)
        for b in after:
            if b != changed[0]:
                assert after[b] == before[b]

    def test_compaction_merges_chain_and_keeps_answers(self, spark, tmp_path):
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 14)
        for rnd in range(4):
            idx.add_urls(_urls_df(spark, SEEN[rnd * 70 : (rnd + 1) * 70]), rnd)
            idx.commit()
        idx.compact(spark)
        for b, ent in idx._manifest["buckets"].items():
            assert len(ent["deltas"]) == 1  # chain merged
        got = sorted(r["url"] for r in idx.prune_new(_cands_df(spark, SEEN + NEW)).collect())
        assert got == sorted(NEW)


class TestSeenIndexPlanShape:
    def test_no_broadcast_no_seen_side_join(self, spark, tmp_path):
        """VERDICT r2 item 4 'done' criterion: the probe plan must not
        broadcast bitmaps (no BroadcastExchange at all) and must not
        join/shuffle a seen relation — one exchange on the bucket
        column into one mapInPandas."""
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=8, bloom_bits=1 << 14)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        plan = idx.prune_new(_cands_df(spark, NEW))._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange") == 1
        assert "MapInPandas" in plan

    def test_driver_holds_no_bitmaps(self, spark, tmp_path):
        """Driver residency is file NAMES only, never bitmap bytes."""
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=8, bloom_bits=1 << 14)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        import json

        # the whole manifest (the only driver-side state) is tiny
        blob = json.dumps(idx._manifest)
        assert len(blob) < 8192
        assert "bloom_r" in blob and ".parquet" in blob


class TestFormatMigration:
    def test_old_format_dir_auto_resets_for_rebuild(self, spark, tmp_path):
        """An index directory written by an older engine version (format
        != current) must not crash resume: the constructor drops the
        stale cache so committed_round is None and the engine's resume
        path rebuilds from the committed seen table."""
        import json
        import os

        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 12)
        idx.add_urls(_urls_df(spark, SEEN[:20]), 0)
        idx.commit()
        # simulate the older on-disk format
        with open(os.path.join(root, "manifest.json")) as f:
            m = json.load(f)
        m["format"] = 1
        with open(os.path.join(root, "manifest.json"), "w") as f:
            json.dump(m, f)
        idx2 = SeenIndex(root, num_buckets=4, bloom_bits=1 << 12)
        assert idx2.committed_round is None  # engine will rebuild()
        idx2.rebuild(_urls_df(spark, SEEN[:20]), 0)
        got = sorted(r["url"] for r in idx2.prune_new(_cands_df(spark, SEEN[:40])).collect())
        assert got == sorted(SEEN[20:40])

    def test_current_manifest_opens_without_reset(self, spark, tmp_path):
        """A manifest in today's on-disk format keeps its round, files
        and key set across a reopen and the next commit."""
        literal = (
            '{"round": 4, "format": 3, "bloom_bits": 4096, "num_buckets": 4, '
            '"incarnation": "5f0c9e", "buckets": {"1": {"bloom": "bloom_r00004.bin", '
            '"deltas": ["hashes_base_r00003.parquet", "hashes_r00004.parquet"]}}}'
        )
        root = tmp_path / "si"
        (root / "bucket=00001").mkdir(parents=True)
        (root / "bucket=00001" / "bloom_r00004.bin").write_bytes(bytes(4096 // 8))
        (root / "manifest.json").write_text(literal)
        idx = SeenIndex(str(root), num_buckets=4, bloom_bits=4096)
        assert idx.committed_round == 4
        assert idx._manifest == json.loads(literal)
        assert (root / "bucket=00001" / "bloom_r00004.bin").exists()
        idx.add_urls(_urls_df(spark, SEEN[:40]), 5)
        idx.commit()
        m = json.loads((root / "manifest.json").read_text())
        assert m.keys() == json.loads(literal).keys()
        assert all(e.keys() == {"bloom", "deltas"} for e in m["buckets"].values())
        assert m["incarnation"] == "5f0c9e"
        assert m["buckets"]["1"]["deltas"][:2] == [
            "hashes_base_r00003.parquet", "hashes_r00004.parquet"
        ]


class TestStateLookup:
    """v3: the index serves the dequeue link-state check
    (polling.rs:180-204) — ``filter_by_state`` must agree with the
    seen-TABLE join reference (``filter_state`` above) on a
    randomized multi-round state history, including re-marked URLs
    (latest kind wins, the RocksDB merge-operator fold)."""

    def _history(self, spark, tmp_path):
        """3 rounds of state transitions over 120 URLs; returns
        (index, final_state dict url->kind)."""
        import random

        from atra_spark.schemas import (
            KIND_DISCOVERED,
            KIND_INTERNAL_ERROR,
            KIND_PROCESSED_AND_STORED,
        )

        rng = random.Random(7)
        urls = [f"https://h{i % 9}.example/p{i}" for i in range(120)]
        idx = SeenIndex(str(tmp_path / "si_state"), num_buckets=8, bloom_bits=1 << 14)
        state: dict[str, int] = {}
        for rnd in range(3):
            rows = []
            for u in urls:
                if rnd == 0 or rng.random() < 0.4:
                    k = rng.choice(
                        [KIND_DISCOVERED, KIND_PROCESSED_AND_STORED, KIND_INTERNAL_ERROR]
                    )
                    rows.append((u, k))
                    state[u] = k
            idx.add_urls(
                spark.createDataFrame(rows, "url string, kind int"), rnd
            )
            idx.commit()
        return idx, state, urls

    def test_lookup_matches_table_join(self, spark, tmp_path):
        from atra_spark.operators.frontier import filter_state_indexed

        idx, state, urls = self._history(spark, tmp_path)
        probe_urls = urls[::2] + [f"https://unknown{i}.example/x" for i in range(20)]
        frontier = _cands_df(spark, probe_urls)
        seen_tbl = spark.createDataFrame(
            [(u, k) for u, k in state.items()], "url string, kind int"
        )
        got = sorted(
            r["url"] for r in filter_state_indexed(frontier, idx, allow_recrawl=False).collect()
        )
        want = sorted(r["url"] for r in filter_state(frontier, seen_tbl).collect())
        assert got == want
        assert got  # non-degenerate: some DISCOVERED rows exist

    def test_lookup_recrawl_tags_match_table_join(self, spark, tmp_path):
        from atra_spark.operators.frontier import filter_state_indexed

        idx, state, urls = self._history(spark, tmp_path)
        frontier = _cands_df(spark, urls)
        seen_tbl = spark.createDataFrame(
            [(u, k) for u, k in state.items()], "url string, kind int"
        )
        got = {
            (r["url"], r["is_recrawl"])
            for r in filter_state_indexed(frontier, idx, allow_recrawl=True).collect()
        }
        want = {
            (r["url"], r["is_recrawl"])
            for r in filter_state(frontier, seen_tbl, allow_recrawl=True).collect()
        }
        assert got == want
        assert any(t for _, t in got)  # some recrawl rows exist

    def test_latest_kind_wins_after_compaction(self, spark, tmp_path):
        """Re-marking a URL in a later round must override, and
        compaction must preserve the folded (latest) kind."""
        idx = SeenIndex(str(tmp_path / "si_fold"), num_buckets=4, bloom_bits=1 << 12)
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_DISCOVERED) for u in SEEN[:30]], "url string, kind int"
            ),
            0,
        )
        idx.commit()
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_PROCESSED_AND_STORED) for u in SEEN[:15]], "url string, kind int"
            ),
            1,
        )
        idx.commit()
        frontier = _cands_df(spark, SEEN[:30])
        before = sorted(
            r["url"]
            for r in idx.filter_by_state(frontier, (KIND_DISCOVERED,)).collect()
        )
        assert before == sorted(SEEN[15:30])
        idx.compact(spark)
        after = sorted(
            r["url"]
            for r in idx.filter_by_state(frontier, (KIND_DISCOVERED,)).collect()
        )
        assert after == before
        # pure lookup mode returns every row with a nullable kind
        all_rows = idx.filter_by_state(
            _cands_df(spark, SEEN[:30] + NEW[:5]), None, with_kind=True
        ).collect()
        assert len(all_rows) == 35
        kinds = {r["url"]: r["kind"] for r in all_rows}
        assert kinds[SEEN[0]] == KIND_PROCESSED_AND_STORED
        assert kinds[SEEN[20]] == KIND_DISCOVERED
        assert all(kinds[u] is None for u in NEW[:5])

    def test_state_probe_plan_no_seen_join(self, spark, tmp_path):
        """The state lookup keeps prune_new's plan economics: no
        broadcast, no join against a seen relation, one exchange into
        one mapInPandas."""
        idx = SeenIndex(str(tmp_path / "si_plan"), num_buckets=8, bloom_bits=1 << 14)
        idx.add_urls(_urls_df(spark, SEEN), 0)
        idx.commit()
        plan = (
            idx.filter_by_state(_cands_df(spark, SEEN[:50]), (0,))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastExchange" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange") == 1
        assert "MapInPandas" in plan


class TestBucketGeometryMigration:
    def test_num_buckets_mismatch_resets_for_rebuild(self, spark, tmp_path, caplog):
        """Reopening an index with a different bucket count must not
        serve stale routing (seen URLs would probe as new and be
        re-crawled): the constructor drops the cache, with a warning
        naming the mismatch, so the engine's resume path rebuilds under
        the requested geometry."""
        root = str(tmp_path / "si_nb")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 12)
        idx.add_urls(_urls_df(spark, SEEN[:20]), 0)
        idx.commit()
        with caplog.at_level(logging.WARNING, logger="atra_spark.operators.seen_index"):
            idx2 = SeenIndex(root, num_buckets=8, bloom_bits=1 << 12)
        assert idx2.committed_round is None  # engine will rebuild()
        assert "'num_buckets': (4, 8)" in caplog.text
        idx2.rebuild(_urls_df(spark, SEEN[:20]), 0)
        got = sorted(r["url"] for r in idx2.prune_new(_cands_df(spark, SEEN[:40])).collect())
        assert got == sorted(SEEN[20:40])

    def test_old_format_with_different_bloom_bits_resets_not_raises(
        self, spark, tmp_path
    ):
        """The format check must run BEFORE the bloom-geometry check: a
        stale-format manifest whose bloom_bits also differ auto-migrates
        instead of raising (ADVICE r3)."""
        import json as _json
        import os as _os

        root = str(tmp_path / "si_fmt_bits")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 12)
        idx.add_urls(_urls_df(spark, SEEN[:10]), 0)
        idx.commit()
        with open(_os.path.join(root, "manifest.json")) as f:
            m = _json.load(f)
        m["format"] = 1
        m["bloom_bits"] = 1 << 10  # both stale format AND different m
        with open(_os.path.join(root, "manifest.json"), "w") as f:
            _json.dump(m, f)
        idx2 = SeenIndex(root, num_buckets=4, bloom_bits=1 << 12)  # no raise
        assert idx2.committed_round is None


class TestStorageSeamAndDistributedCompact:
    """VERDICT r3 #5: all bucket-object I/O goes through the
    LocalBucketStorage seam, and compaction runs as a distributed
    per-bucket Spark job."""

    def test_compact_inventory_and_answers(self, spark, tmp_path):
        """After compaction each bucket holds exactly its one live base
        file plus the newest two bloom bitmaps, and answers hold."""
        root = str(tmp_path / "si")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 14)
        for rnd in range(4):
            rows = [
                (u, KIND_PROCESSED_AND_STORED if rnd == 3 and i % 2 else KIND_DISCOVERED)
                for i, u in enumerate(SEEN[rnd * 70 : (rnd + 1) * 70])
            ]
            idx.add_urls(spark.createDataFrame(rows, "url string, kind int"), rnd)
            idx.commit()
        blooms = {
            int(b): [f for f in idx.storage.list_bucket(int(b)) if f.startswith("bloom_r")]
            for b in idx._manifest["buckets"]
        }
        assert all(len(v) > 2 for v in blooms.values())  # GC has work
        idx.compact(spark)
        for b, ent in idx._manifest["buckets"].items():
            assert ent["deltas"] == ["hashes_base_r00003.parquet"], b
            assert idx.storage.list_bucket(int(b)) == sorted(
                ent["deltas"] + blooms[int(b)][-2:]
            ), b
        got = sorted(
            r["url"] for r in idx.prune_new(_cands_df(spark, SEEN + NEW)).collect()
        )
        assert got == sorted(NEW)

    def test_compact_preserves_latest_kind(self, spark, tmp_path):
        root = str(tmp_path / "si_kindc")
        idx = SeenIndex(root, num_buckets=4, bloom_bits=1 << 12)
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_DISCOVERED) for u in SEEN[:40]], "url string, kind int"
            ), 0,
        )
        idx.commit()
        idx.add_urls(
            spark.createDataFrame(
                [(u, KIND_PROCESSED_AND_STORED) for u in SEEN[:20]], "url string, kind int"
            ), 1,
        )
        idx.commit()
        idx.compact(spark)
        rows = idx.filter_by_state(
            _cands_df(spark, SEEN[:40]), None, with_kind=True
        ).collect()
        kinds = {r["url"]: r["kind"] for r in rows}
        assert all(kinds[u] == KIND_PROCESSED_AND_STORED for u in SEEN[:20])
        assert all(kinds[u] == KIND_DISCOVERED for u in SEEN[20:40])

    def test_all_io_routes_through_storage(self, spark, tmp_path):
        """No direct file I/O outside the seam: a storage subclass that
        counts calls sees both the bitmap and the hash-pair reads of a
        cold probe. The probe kernel runs here, in the process that
        holds the counters and the module caches."""
        from atra_spark.operators.seen_index import _BLOOM_CACHE, _HASHSET_CACHE

        calls = {"read_bytes": 0, "read_pairs": 0}

        class CountingStorage(LocalBucketStorage):
            def read_bytes(self, bucket, name):
                calls["read_bytes"] += 1
                return super().read_bytes(bucket, name)

            def read_pairs(self, bucket, name):
                calls["read_pairs"] += 1
                return super().read_pairs(bucket, name)

        root = str(tmp_path / "si_count")
        idx = SeenIndex(
            root, num_buckets=4, bloom_bits=64,  # tiny bloom -> exact confirms
            storage=CountingStorage(root),
        )
        idx.add_urls(_urls_df(spark, SEEN[:60]), 0)
        idx.commit()
        keys = _probe_keys(spark, SEEN[:60] + NEW[:20], idx.num_buckets)
        _BLOOM_CACHE.clear()
        _HASHSET_CACHE.clear()
        kinds = _latest_kinds(
            idx.storage, idx._incarnation, idx._buckets_meta(),
            keys[:, 0], keys[:, 1], keys[:, 2],
        )
        assert (kinds[:60] >= 0).all() and (kinds[60:] < 0).all()
        assert calls["read_bytes"] >= 1
        assert calls["read_pairs"] >= 1


class _SeenKind:
    def open(self, root):
        return SeenIndex(root, num_buckets=2, bloom_bits=1 << 14)

    def add(self, spark, idx, seq):
        idx.add_urls(_urls_df(spark, SEEN[seq * 50 : (seq + 1) * 50]), seq)

    def answers(self, spark, idx):
        got = sorted(
            r["url"] for r in idx.prune_new(_cands_df(spark, SEEN[:150] + NEW)).collect()
        )
        assert got == sorted(NEW)
        return got


class _NearDupKind:
    def open(self, root):
        return NearDupIndex(root, num_buckets=2)

    def add(self, spark, idx, seq):
        idx.admit(_docs(spark, _corpus(seq * 100, seq * 100 + 40)), seq)

    def answers(self, spark, idx):
        got = _probe_set(idx.probe(_docs(spark, _corpus(500, 540))))
        assert got, "the probe batch must near-dup the history"
        return got


@pytest.fixture(params=[_SeenKind, _NearDupKind], ids=["seen", "neardup"])
def index_kind(request):
    return request.param()


class TestTwoPhaseCompaction:
    """ADVICE r5 (medium): compaction must publish the new manifest
    BEFORE deleting superseded chain files, so a crash mid-compaction
    can never leave a committed manifest referencing deleted files.
    Both indexes compact through the one ``DeltaChainIndex`` protocol."""

    def test_bucket_fold_is_write_only(self, spark, tmp_path, index_kind):
        root = str(tmp_path / "idx")
        idx = index_kind.open(root)
        for seq in range(3):
            index_kind.add(spark, idx, seq)
            idx.commit()
        want = index_kind.answers(spark, idx)
        # simulate the crash window: run ONLY the per-bucket fold (what
        # executor tasks do), no manifest publish, no GC
        base = f"{idx._BASE_PREFIX}00002.parquet"
        for b, ent in idx._manifest["buckets"].items():
            type(idx)._fold_bucket(idx.storage, int(b), ent, base)
        # the committed manifest's chain files must all still exist -> a
        # fresh index over the same root probes correctly
        for b, ent in idx._manifest["buckets"].items():
            assert set(ent["deltas"]) <= set(idx.storage.list_bucket(int(b))), b
        assert index_kind.answers(spark, index_kind.open(root)) == want

    def test_gc_after_publish_leaves_no_orphans(self, spark, tmp_path, index_kind):
        root = str(tmp_path / "idx")
        idx = index_kind.open(root)
        for seq in range(3):
            index_kind.add(spark, idx, seq)
            idx.commit()
        want = index_kind.answers(spark, idx)
        # leave a stale pre-fold base around (the crash-between-publish-
        # and-GC artifact) and compact: the sweep must remove it
        idx.storage.write_bytes(0, f"{idx._BASE_PREFIX}00000.parquet", b"junk")
        idx.compact(spark)
        for b, ent in idx._manifest["buckets"].items():
            files = [
                f for f in idx.storage.list_bucket(int(b)) if f.endswith(".parquet")
            ]
            assert files == list(ent["deltas"])  # exactly the live base
        assert index_kind.answers(spark, idx) == want


class TestWorkerCacheIncarnation:
    def test_reset_index_misses_warm_worker_caches(self, spark, tmp_path):
        """``reset()`` then ``add_urls(..., 0)`` (what ``CrawlEngine.seed``
        does) rewrites ``bloom_r00000.bin`` and ``hashes_r00000.parquet``
        under the same names with new contents. A warm worker must not
        answer from the old ones. The probe kernel runs here, in the
        process that holds the module caches, so the cache is
        certainly warm."""
        a = [f"https://a{i % 7}.example/p{i}" for i in range(200)]
        b = [f"https://b{i % 7}.example/p{i}" for i in range(200)]
        idx = SeenIndex(str(tmp_path / "si"), num_buckets=4, bloom_bits=1 << 12)
        keys = _probe_keys(spark, a + b, idx.num_buckets)

        def indexed():
            kinds = _latest_kinds(
                idx.storage, idx._incarnation, idx._buckets_meta(),
                keys[:, 0], keys[:, 1], keys[:, 2],
            )
            return kinds[:200] >= 0, kinds[200:] >= 0

        idx.add_urls(_urls_df(spark, a), 0)
        idx.commit()
        in_a, in_b = indexed()
        assert in_a.all() and not in_b.any()
        idx.reset()
        idx.add_urls(_urls_df(spark, b), 0)
        idx.commit()
        in_a, in_b = indexed()
        assert in_b.all() and not in_a.any()
