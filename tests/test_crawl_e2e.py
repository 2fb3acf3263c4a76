"""End-to-end crawl parity: Spark engine vs the serial oracle on the
deterministic fixture corpus — the north-rule correctness gates:

- same final URL-seen set (incl. state kinds + depth triples)
- same crawl ordering (round, host, admission_index)
- byte-identical extracted text per url (results table vs golden)
- resumable from checkpoint
"""

import os

import pytest
from pyspark.sql import functions as F

from atra_spark.plans.crawl import CrawlEngine
from atra_spark.sources.oracle_crawler import crawl_oracle
from atra_spark.sources.store import CheckpointStore


@pytest.fixture(scope="module")
def oracle(fixture_set):
    robots = {h: (t, s) for h, t, s, _ in fixture_set.robots}
    return crawl_oracle(
        fixture_set.golden_links,
        {p[0] for p in fixture_set.pages},
        robots,
        fixture_set.seeds,
        fixture_set.config,
    )


@pytest.fixture(scope="module")
def crawled(spark, fixture_set, fixture_paths, tmp_path_factory):
    store = CheckpointStore(str(tmp_path_factory.mktemp("store")), num_buckets=8)
    eng = CrawlEngine(
        spark,
        store,
        fixture_set.config,
        fixture_paths["pages"],
        fixture_paths["robots"],
        num_buckets=8,
    )
    report = eng.run(seeds=fixture_set.seeds)
    return store, report


class TestParity:
    def test_seen_set(self, spark, crawled, oracle):
        store, _ = crawled
        eng_seen = {
            r["url"]: (
                r["kind"],
                r["is_seed"],
                (r["depth_on_website"], r["distance_to_seed"], r["total_distance_to_seed"]),
            )
            for r in store.read_snapshot(spark, "seen").collect()
        }
        o_seen = {
            u: (k, s, (d.depth_on_website, d.distance_to_seed, d.total_distance_to_seed))
            for u, (k, s, d) in oracle.seen.items()
        }
        assert eng_seen == o_seen

    def test_crawl_ordering(self, spark, crawled, oracle):
        store, _ = crawled
        eng_order = sorted(
            (r["round"], r["host"], r["admission_index"], r["url"])
            for r in store.read_union(spark, "order").collect()
        )
        assert eng_order == sorted(oracle.order)

    def test_extracted_text_byte_identical(self, spark, crawled, fixture_set):
        store, _ = crawled
        golden = {p[0]: p[3] for p in fixture_set.pages}
        results = (
            store.read_union(spark, "results").filter(F.col("status") == 200).collect()
        )
        assert results, "no fetched pages"
        for r in results:
            assert r["text"] == golden[r["url"]], f"text mismatch {r['url']}"

    def test_language_golden(self, spark, crawled, fixture_set):
        store, _ = crawled
        golden = {p[0]: p[4] for p in fixture_set.pages}
        for r in store.read_union(spark, "results").filter(F.col("status") == 200).collect():
            assert r["lang"] == golden[r["url"]]

    def test_edges_match_oracle(self, spark, crawled, oracle):
        store, _ = crawled
        eng_edges = sorted(
            (r["src"], r["dst"], r["kind"]) for r in store.read_union(spark, "edges").collect()
        )
        o_edges = sorted((s, d, k) for s, d, k, _ in oracle.edges)
        assert eng_edges == o_edges

    def test_metrics_lineage(self, spark, crawled):
        store, report = crawled
        m = store.read_union(spark, "metrics")
        per_round = {
            r["round"]: r["fetched_ok"]
            for r in m.groupBy("round").agg(F.sum("fetched_ok").alias("fetched_ok")).collect()
        }
        for rs in report.rounds:
            if rs.admitted:
                assert per_round[rs.round] == rs.fetched_ok

    def test_blocked_and_private_never_crawled(self, spark, crawled):
        store, _ = crawled
        order = store.read_union(spark, "order")
        assert order.filter(F.col("url").contains("blocked.example")).count() == 0


class TestOfficeCorpus:
    """Full crawl parity over a corpus where ~15% of latin-script pages
    are real OOXML/ODF/PDF payloads: the non-HTML extractors must feed
    link discovery, depth arithmetic, and text/lang goldens through the
    whole round loop, not just unit tests."""

    @pytest.fixture(scope="class")
    def office_run(self, spark, tmp_path_factory):
        from atra_spark.sources.fixtures import generate_fixtures, write_fixtures

        fx = generate_fixtures(n_pages=200, n_hosts=6, office_share=0.15)
        paths = write_fixtures(fx, str(tmp_path_factory.mktemp("fx_office")))
        robots = {h: (t, s) for h, t, s, _ in fx.robots}
        oracle = crawl_oracle(
            fx.golden_links, {p[0] for p in fx.pages}, robots, fx.seeds, fx.config
        )
        store = CheckpointStore(str(tmp_path_factory.mktemp("store_office")), num_buckets=8)
        eng = CrawlEngine(
            spark, store, fx.config, paths["pages"], paths["robots"], num_buckets=8
        )
        eng.run(seeds=fx.seeds)
        return fx, store, oracle

    def test_corpus_contains_office_pages(self, office_run):
        fx, _, _ = office_run
        magics = {bytes(p[2])[:2] for p in fx.pages}
        assert b"PK" in magics and b"%P" in magics

    def test_seen_set_parity(self, spark, office_run):
        fx, store, oracle = office_run
        seen = {r["url"]: r["kind"] for r in store.read_snapshot(spark, "seen").collect()}
        assert seen == {u: k for u, (k, _, _) in oracle.seen.items()}

    def test_ordering_parity(self, spark, office_run):
        _, store, oracle = office_run
        order = sorted(
            (r["round"], r["host"], r["admission_index"], r["url"])
            for r in store.read_union(spark, "order").collect()
        )
        assert order == sorted(oracle.order)

    def test_office_text_and_lang_goldens(self, spark, office_run):
        fx, store, _ = office_run
        golden_t = {p[0]: p[3] for p in fx.pages}
        golden_l = {p[0]: p[4] for p in fx.pages}
        rows = (
            store.read_union(spark, "results")
            .filter(F.col("status") == 200)
            .filter(F.col("format").isin("OOXML", "ODF", "PDF"))
            .collect()
        )
        assert rows, "no office pages were fetched"
        for r in rows:
            assert r["text"] == golden_t[r["url"]], f"text mismatch {r['url']}"
            assert r["lang"] == golden_l[r["url"]]
            assert r["encoding"] == "binary"


class TestSubdomainDepth:
    """Depth advance compares FULL hostnames (atra_uri.rs compare_hosts),
    not the registrable-domain politeness key: hopping blog.x.example ->
    www.x.example (same origin 'x.example') must RESET depth_on_website
    and increment distance_to_seed."""

    def test_subdomain_hop_resets_depth(self, spark, tmp_path_factory):
        from datetime import datetime

        from atra_spark.config import CrawlConfig
        from atra_spark.urlkit import NORMAL, Budget

        ts = datetime(2024, 1, 1)
        rows = [
            (
                "https://blog.x.example/a.html",
                ts,
                b'<html><body><a href="https://www.x.example/b.html">b</a></body></html>',
            ),
            (
                "https://www.x.example/b.html",
                ts,
                b'<html><body><a href="https://blog.x.example/c.html">c</a></body></html>',
            ),
            ("https://blog.x.example/c.html", ts, b"<html><body>end</body></html>"),
        ]
        pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
        d = tmp_path_factory.mktemp("subdom")
        pages_path = str(d / "pages.parquet")
        pages.write.parquet(pages_path)
        cfg = CrawlConfig(
            default_budget=Budget(kind=NORMAL, depth_on_website=0, distance_to_seed=2),
            respect_robots_txt=False,
            max_rounds=4,
        )
        store = CheckpointStore(str(d / "store"), num_buckets=4)
        eng = CrawlEngine(spark, store, cfg, pages_path, None, num_buckets=4)
        eng.run(seeds=["https://blog.x.example/a.html"])
        seen = {
            r["url"]: (
                r["depth_on_website"],
                r["distance_to_seed"],
                r["total_distance_to_seed"],
            )
            for r in store.read_snapshot(spark, "seen").collect()
        }
        assert seen["https://blog.x.example/a.html"] == (0, 0, 0)
        assert seen["https://www.x.example/b.html"] == (0, 1, 1)
        assert seen["https://blog.x.example/c.html"] == (0, 2, 2)


class TestResultMetadataFidelity:
    """When the pages table carries real response metadata (status,
    headers), the results table passes it through instead of the
    constant 200/empty-map (crawl/crawler/result.rs:32-90)."""

    def test_status_and_headers_passthrough(self, spark, tmp_path_factory):
        from datetime import datetime

        from atra_spark.config import CrawlConfig
        from atra_spark.urlkit import NORMAL, Budget

        ts = datetime(2024, 1, 1)
        pages = spark.createDataFrame(
            [
                (
                    "https://m.example/ok.html",
                    ts,
                    b"<html><body>fine</body></html>",
                    200,
                    {"Content-Type": "text/html", "Server": "ref"},
                ),
                (
                    "https://m.example/gone.html",
                    ts,
                    b"<html><body>moved</body></html>",
                    410,
                    {"X-Reason": "gone"},
                ),
            ],
            "url string, warc_ts timestamp, html binary, status int, "
            "headers map<string,string>",
        )
        d = tmp_path_factory.mktemp("meta")
        pages_path = str(d / "pages.parquet")
        pages.write.parquet(pages_path)
        cfg = CrawlConfig(
            default_budget=Budget(kind=NORMAL, depth_on_website=0, distance_to_seed=5),
            respect_robots_txt=False,
            max_rounds=1,
        )
        store = CheckpointStore(str(d / "store"), num_buckets=4)
        eng = CrawlEngine(spark, store, cfg, pages_path, None, num_buckets=4)
        eng.run(
            seeds=[
                "https://m.example/ok.html",
                "https://m.example/gone.html",
                "https://m.example/missing.html",
            ],
            max_rounds=1,
        )
        rows = {r["url"]: r for r in store.read_union(spark, "results").collect()}
        assert rows["https://m.example/ok.html"]["status"] == 200
        assert rows["https://m.example/ok.html"]["headers"]["Server"] == "ref"
        assert rows["https://m.example/gone.html"]["status"] == 410
        assert rows["https://m.example/gone.html"]["headers"]["X-Reason"] == "gone"
        # absent page -> fetch-error analog, still 404 + empty headers
        assert rows["https://m.example/missing.html"]["status"] == 404
        assert rows["https://m.example/missing.html"]["headers"] == {}


class TestResume:
    def test_kill_and_resume_matches_oracle(
        self, spark, fixture_set, fixture_paths, oracle, tmp_path_factory
    ):
        store = CheckpointStore(str(tmp_path_factory.mktemp("resume")), num_buckets=8)

        def mk():
            return CrawlEngine(
                spark,
                store,
                fixture_set.config,
                fixture_paths["pages"],
                fixture_paths["robots"],
                num_buckets=8,
            )

        mk().run(seeds=fixture_set.seeds, max_rounds=2)
        mk().run(seeds=None)  # fresh engine: blooms rebuilt from checkpoint
        eng_seen = {
            r["url"]: r["kind"] for r in store.read_snapshot(spark, "seen").collect()
        }
        assert eng_seen == {u: k for u, (k, _, _) in oracle.seen.items()}
        eng_order = sorted(
            (r["round"], r["host"], r["admission_index"], r["url"])
            for r in store.read_union(spark, "order").collect()
        )
        assert eng_order == sorted(oracle.order)


class TestRecrawl:
    """Recrawl refill + cooldown at admission (crawler.rs:264-300,
    recrawl_management/mod.rs:27-70, app/atra.rs:392-414)."""

    def _mini_pages(self, spark, tmp, n=3):
        from datetime import datetime

        ts = datetime(2024, 1, 1)
        rows = []
        for i in range(n):
            nxt = (i + 1) % n
            rows.append(
                (
                    f"https://r{i}.example/p.html",
                    ts,
                    f'<html><body><a href="https://r{nxt}.example/p.html">n</a></body></html>'.encode(),
                )
            )
        pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
        p = str(tmp / "pages.parquet")
        pages.write.parquet(p)
        return p, [r[0] for r in rows]

    def test_refill_and_reprocess_matches_oracle(self, spark, tmp_path_factory):
        """interval=0: after the frontier drains, every processed URL is
        due for recrawl; the refilled wave must admit in the same order
        as the serial oracle and leave the same seen set."""
        from atra_spark.config import CrawlConfig
        from atra_spark.sources.oracle_crawler import crawl_oracle
        from atra_spark.urlkit import NORMAL, Budget, origin

        tmp = tmp_path_factory.mktemp("recrawl")
        pages_path, urls = self._mini_pages(spark, tmp)
        cfg = CrawlConfig(
            default_budget=Budget(kind=NORMAL, depth_on_website=0, distance_to_seed=99),
            respect_robots_txt=False,
            delay_ms=1,
            recrawl_interval_s=0,
            max_rounds=6,
        )
        golden_links = {
            u: [(urls[(i + 1) % len(urls)], "onseed", "html_a")]
            for i, u in enumerate(urls)
        }
        oracle = crawl_oracle(golden_links, set(urls), {}, [urls[0]], cfg, max_rounds=6)
        store = CheckpointStore(str(tmp / "store"), num_buckets=4)
        eng = CrawlEngine(spark, store, cfg, pages_path, None, num_buckets=4)
        eng.run(seeds=[urls[0]])
        eng_order = sorted(
            (r["round"], r["host"], r["admission_index"], r["url"])
            for r in store.read_union(spark, "order").collect()
        )
        assert eng_order == sorted(oracle.order)
        # each URL was admitted (at least) twice: initial + recrawl wave
        from collections import Counter

        per_url = Counter(u for _r, _h, _i, u in eng_order)
        assert all(c >= 2 for c in per_url.values()), per_url
        eng_seen = {
            r["url"]: r["kind"] for r in store.read_snapshot(spark, "seen").collect()
        }
        assert eng_seen == {u: k for u, (k, _s, _d) in oracle.seen.items()}
        # host_state is maintained for every crawled host
        hs = {r["host"] for r in store.read_snapshot(spark, "host_state").collect()}
        assert hs == {origin(u) for u in urls}

    def test_cooldown_defers_admission(self, spark, tmp_path_factory):
        """A recrawl re-enqueue whose host_state.last_access is within
        the interval is NOT admitted: it returns to the frontier with
        age reset to 0 (UrlQueueElement::new(is_seed, 0, ...))."""
        from datetime import datetime, timedelta, timezone

        from atra_spark.config import CrawlConfig
        from atra_spark.schemas import KIND_PROCESSED_AND_STORED
        from atra_spark.urlkit import NORMAL, Budget

        tmp = tmp_path_factory.mktemp("cooldown")
        pages_path, urls = self._mini_pages(spark, tmp, n=1)
        url = urls[0]
        cfg = CrawlConfig(
            default_budget=Budget(kind=NORMAL, depth_on_website=0, distance_to_seed=99),
            respect_robots_txt=False,
            recrawl_interval_s=3600,
            max_rounds=1,
        )
        store = CheckpointStore(str(tmp / "store"), num_buckets=4)
        eng = CrawlEngine(spark, store, cfg, pages_path, None, num_buckets=4)
        # construct checkpoint state: url already processed, host accessed now
        now = datetime.now(timezone.utc)
        frontier = spark.createDataFrame(
            [(url, "r0.example", True, 3, False, 0, 0, 0, 5)],
            "url string, host string, is_seed boolean, age int, host_was_in_use boolean, "
            "depth_on_website long, distance_to_seed long, total_distance_to_seed long, "
            "enqueue_round int",
        )
        seen = spark.createDataFrame(
            [(url, "r0.example", KIND_PROCESSED_AND_STORED, 254, False, True, now, 0, 0, 0)],
            "url string, host string, kind int, last_significant_kind int, recrawl boolean, "
            "is_seed boolean, ts timestamp, depth_on_website long, distance_to_seed long, "
            "total_distance_to_seed long",
        )
        host_state = spark.createDataFrame(
            [("r0.example", now - timedelta(seconds=60), 1000)],
            "host string, last_access timestamp, crawl_delay_ms long",
        )
        store.write_snapshot("frontier", frontier, 0, bucket_by="host")
        store.write_snapshot("seen", seen, 0, bucket_by="host")
        store.write_snapshot("host_state", host_state, 0, bucket_by="host")
        eng.seen_index.rebuild(seen.select("url", "kind"), 0)
        stats = eng.run_round(0)
        assert stats.admitted == 0 and stats.fetched_ok == 0
        nxt = store.read_snapshot(spark, "frontier").collect()
        assert len(nxt) == 1
        assert nxt[0]["url"] == url and nxt[0]["age"] == 0  # age reset
        # with an expired last_access the same URL IS admitted
        old = now - timedelta(seconds=7200)
        host_state2 = spark.createDataFrame(
            [("r0.example", old, 1000)],
            "host string, last_access timestamp, crawl_delay_ms long",
        )
        store.write_snapshot("host_state", host_state2, 1, bucket_by="host")
        stats2 = eng.run_round(1)
        assert stats2.admitted == 1 and stats2.fetched_ok == 1


class TestFetchJoinFallback:
    """Above ``broadcast_fetch_max_urls`` admitted URLs the engine
    swaps the broadcast fetch join for a shuffled join (the broadcast
    itself would be multi-GB at 10^8-URL rounds). Forcing the
    threshold to 0 must produce the EXACT same crawl — same seen set
    (kinds + depth triples), same per-round results — as the default
    broadcast path on the same corpus."""

    def test_shuffled_path_identical_crawl(
        self, spark, fixture_set, fixture_paths, tmp_path_factory
    ):
        import dataclasses

        runs = {}
        for label, threshold in (("broadcast", 10_000_000), ("shuffled", 0)):
            cfg = dataclasses.replace(
                fixture_set.config, broadcast_fetch_max_urls=threshold
            )
            store = CheckpointStore(
                str(tmp_path_factory.mktemp(f"store_{label}")), num_buckets=8
            )
            eng = CrawlEngine(
                spark, store, cfg, fixture_paths["pages"],
                fixture_paths["robots"], num_buckets=8,
            )
            eng.run(seeds=fixture_set.seeds)
            seen = {
                r["url"]: (r["kind"], r["depth_on_website"],
                           r["distance_to_seed"], r["total_distance_to_seed"])
                for r in store.read_snapshot(spark, "seen").collect()
            }
            results = {
                (r["url"], r["fetched_round"]): (r["status"], r["fetched"], r["n_links"])
                for r in store.read_union(spark, "results").collect()
            }
            runs[label] = (seen, results)
        assert runs["broadcast"][0] == runs["shuffled"][0], "seen-set divergence"
        assert runs["broadcast"][1] == runs["shuffled"][1], "results divergence"


class TestRobotsJoinFallback:
    """Above ``broadcast_robots_max_hosts`` parsed-robots rows the
    engine swaps every robots broadcast join (admission filter + delay
    lookup) for a co-partitioned join on host (at 10^7-10^8 hosts the
    parsed relation with disallow arrays is multi-GB). Forcing the
    threshold to 0 must produce the EXACT same crawl as the default
    broadcast path on the same corpus."""

    def test_copartitioned_path_identical_crawl(
        self, spark, fixture_set, fixture_paths, tmp_path_factory
    ):
        import dataclasses

        runs = {}
        for label, threshold in (("broadcast", 10_000_000), ("shuffled", 0)):
            cfg = dataclasses.replace(
                fixture_set.config, broadcast_robots_max_hosts=threshold
            )
            store = CheckpointStore(
                str(tmp_path_factory.mktemp(f"rstore_{label}")), num_buckets=8
            )
            eng = CrawlEngine(
                spark, store, cfg, fixture_paths["pages"],
                fixture_paths["robots"], num_buckets=8,
            )
            assert eng._robots_broadcast == (threshold > 0)
            eng.run(seeds=fixture_set.seeds)
            seen = {
                r["url"]: (r["kind"], r["depth_on_website"],
                           r["distance_to_seed"], r["total_distance_to_seed"])
                for r in store.read_snapshot(spark, "seen").collect()
            }
            order = sorted(
                (r["round"], r["host"], r["admission_index"], r["url"])
                for r in store.read_union(spark, "order").collect()
            )
            runs[label] = (seen, order)
        assert runs["broadcast"][0] == runs["shuffled"][0], "seen-set divergence"
        assert runs["broadcast"][1] == runs["shuffled"][1], "ordering divergence"
