"""The crawl round loop — atra's async poll/fetch/extract/store cycle
(atra/src/crawl/mod.rs:62-150, crawler.rs:156-626) re-expressed as an
iterative batch dataflow: one Spark job pipeline per round, one
checkpoint-store transaction per round (SURVEY.md §3.1 "Spark
lifecycle equivalent").

Scale posture per round (10^10-frontier discipline, SURVEY.md §7):
- nothing is ever collected to the driver except per-round counters
  and tiny per-bucket index summaries (a few file names per bucket)
- frontier/seen stay host-hash bucketed across rounds (store writes
  repartition by ``pmod(xxhash64(host), P)``)
- seen-set membership is served by the persistent bucket-partitioned
  SeenIndex (operators/seen_index.py): bloom probe + exact confirm
  routed per url-hash bucket; the seen table itself never shuffles
  and no bitmap is ever broadcast or driver-resident
- the index is maintained incrementally (each round appends one delta
  per touched bucket; compaction every k rounds — no rebuild scans)
- candidate aggregation is salted two-phase (hot hosts / hot URLs)
- admission is one JVM window function (``admit_window``), kept in
  whole-stage codegen; the applyInPandas ``schedule_hosts`` is the
  tested reference it must agree with, not an engine path
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import CrawlConfig
from ..functions.extract import extract_pages_batch
from ..functions.jvm_url import attach_origin
from ..functions.url_udfs import canonicalize_udf, origin_udf
from ..schemas import (
    DEPTH_COLS,
    KIND_DISCOVERED,
    KIND_INTERNAL_ERROR,
    KIND_PROCESSED_AND_STORED,
)
from ..sources.store import CheckpointStore
from ..operators.seen_index import SeenIndex
from ..operators.frontier import (
    filter_age,
    filter_blacklist,
    filter_budget,
    filter_recrawl_cooldown,
    filter_robots,
    filter_state_indexed,
    parse_robots,
)
from ..operators.politeness import admit_window
from ..operators.seen import aggregate_candidates


def expand_links(res_read: DataFrame, rnd: int) -> tuple[DataFrame, DataFrame]:
    """One round's link expansion over the committed results snapshot:
    returns ``(edges, expanded)`` — the web-graph edge rows and the
    per-link candidate rows (url + advanced depth triple) feeding the
    dedup agg + seen probe.

    Plan shape (pinned by
    tests/test_plan_quality.py::TestAlignedFrontierPath): a pure JVM
    scan -> explode -> project with no per-link Python stage AND no
    join of any kind. The link's politeness origin (full PSL) was
    computed inside the extraction batch (LINK_STRUCT.host) and the
    parent's depth triple rides the results row itself, so the former
    broadcast of the admitted set — a driver-serial hash-relation
    build plus one probe per exploded link, and past the broadcast
    threshold outright at 10^10-frontier scale — is gone.

    Depth advance (url_with_depth.rs:69-110) as column expressions.
    The same-host test uses FULL hostname equality (atra_uri.rs
    compare_hosts :200-225), not the registrable-domain politeness
    key: a subdomain hop (blog.x.com -> www.x.com) RESETS
    depth_on_website and increments distance_to_seed. "host" stays
    the origin/politeness/partition key only.

    Bandwidth diet: the expand->agg->probe shuffle carries ONLY
    (url, 3 depth longs). host (PSL origin, a pure function of url)
    is recomputed after the seen-filter on the surviving new-URL set —
    orders of magnitude smaller than the exploded link set — instead
    of riding the exchange as a second string."""
    links = (
        res_read.filter(F.col("fetched"))
        .select(
            F.col("url").alias("src"),
            *[F.col(c).alias(f"p_{c}") for c in DEPTH_COLS],
            F.explode("links").alias("l"),
        )
        .filter(F.col("l.kind") != "data")
        .select(
            "src",
            F.col("l.kind").alias("link_kind"),
            *[f"p_{c}" for c in DEPTH_COLS],
            F.col("l.url").alias("url"),
            F.col("l.host").alias("host"),
        )
        .filter(F.col("host").isNotNull())
    )
    edges = links.select(
        "src", F.col("url").alias("dst"), F.lit("link").alias("kind"), F.lit(rnd).alias("round")
    )
    # full-hostname equality was already decided per link INSIDE the
    # extraction batch: kind == "onseed" iff host_of(link) ==
    # host_of(page) (extract.py link classification — the exact
    # atra_uri.rs compare_hosts :200-225 rule the oracle crawler uses,
    # sources/oracle_crawler.py:196). Reading the stored bit replaces
    # TWO regexp hostname extractions per exploded link (~27M regex
    # evaluations per 480k-page round — measured 293 CPU-seconds in
    # this stage at 16 cores before, the round's largest JVM cost
    # after extraction itself).
    same_host = F.col("link_kind") == F.lit("onseed")
    expanded = links.select(
        "url",
        F.when(same_host, F.col("p_depth_on_website") + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("depth_on_website"),
        F.when(same_host, F.col("p_distance_to_seed"))
        .otherwise(F.col("p_distance_to_seed") + 1)
        .cast("long")
        .alias("distance_to_seed"),
        (F.col("p_total_distance_to_seed") + 1).cast("long").alias("total_distance_to_seed"),
    )
    return edges, expanded


@dataclass
class RoundStats:
    round: int
    polled: int
    admitted: int
    deferred: int
    fetched_ok: int
    fetch_errors: int
    links_extracted: int
    new_urls: int
    wall_ms: int


@dataclass
class CrawlReport:
    rounds: list[RoundStats] = field(default_factory=list)

    @property
    def fetched_total(self) -> int:
        return sum(r.fetched_ok + r.fetch_errors for r in self.rounds)


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: CheckpointStore,
        config: CrawlConfig,
        pages_path: str,
        robots_path: str | None = None,
        num_buckets: int = 32,
        bloom_bits: int = 1 << 20,
    ) -> None:
        self.spark = spark
        self.store = store
        self.config = config
        self.num_buckets = num_buckets
        # fixed bloom geometry for the crawl lifetime (bits per bucket
        # bitmap); at 10^10 URLs size to ~9.6 bits/URL -> ~12 GB of
        # bitmaps TOTAL, which is why nothing is broadcast: the
        # SeenIndex stores one bitmap per url-hash bucket and the probe
        # routes each bucket's bitmap only to that bucket's partitions
        self.bloom_bits = bloom_bits
        self.seen_index = SeenIndex(
            os.path.join(store.root, "seen_index"),
            num_buckets=num_buckets,
            bloom_bits=bloom_bits,
        )
        # probe alignment: when num_buckets == spark.sql.shuffle
        # .partitions, the candidate agg's output partitioning IS the
        # index's bucket routing and the probe skips its repartition
        # (one exchange for the whole frontier path). Misalignment
        # (user changed the session conf) falls back to an explicit
        # bucket repartition — correct either way.
        try:
            _shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            _shuffle_p = -1
        self._probe_aligned = _shuffle_p == num_buckets
        all_pages = spark.read.parquet(pages_path)
        # real response metadata passes through when the input carries
        # it (result.rs:32-90); content_type feeds format sniffing
        self._page_meta = [
            c for c in ("status", "headers", "content_type") if c in all_pages.columns
        ]
        self.pages = all_pages.select("url", "warc_ts", "html", *self._page_meta)
        if robots_path:
            robots_df = spark.read.parquet(robots_path)
            self.robots_parsed = parse_robots(robots_df).cache()
            n_robots = self.robots_parsed.count()  # materialize once (robots LRU analog)
            # broadcast only while the parsed relation is small; at
            # 10^7-10^8 hosts the disallow arrays make it multi-GB, so
            # fall back to a co-partitioned join on host (the same
            # threshold discipline as broadcast_fetch_max_urls)
            self._robots_broadcast = n_robots <= config.broadcast_robots_max_hosts
        else:
            self.robots_parsed = None
            self._robots_broadcast = True

    # ------------------------------------------------------------------
    def seed(self, seeds: list[str]) -> None:
        """Initialize frontier + seen + seed edges (seed/input/seed_data.rs:53-67)."""
        spark = self.spark
        seeds_df = (
            spark.createDataFrame([(s,) for s in seeds], "url string")
            # canonicalize rejects non-http(s)/unparseable seeds, matching
            # the reference's UrlWithDepth parse at enqueue
            # (seed/input/seed_data.rs:53-67)
            .withColumn("url", canonicalize_udf(F.col("url")))
            .filter(F.col("url").isNotNull())
            .dropDuplicates(["url"])
            .withColumn("host", origin_udf(F.col("url")))
            .filter(F.col("host").isNotNull())
        )
        frontier = seeds_df.select(
            "url",
            "host",
            F.lit(True).alias("is_seed"),
            F.lit(0).alias("age"),
            F.lit(False).alias("host_was_in_use"),
            *[F.lit(0).cast("long").alias(c) for c in DEPTH_COLS],
            F.lit(0).alias("enqueue_round"),
        )
        seen = seeds_df.select(
            "url",
            "host",
            F.lit(KIND_DISCOVERED).alias("kind"),
            F.lit(254).alias("last_significant_kind"),
            F.lit(False).alias("recrawl"),
            F.lit(True).alias("is_seed"),
            F.current_timestamp().alias("ts"),
            *[F.lit(0).cast("long").alias(c) for c in DEPTH_COLS],
        )
        edges = seeds_df.select(
            F.col("host").alias("src"),
            F.col("url").alias("dst"),
            F.lit("seed").alias("kind"),
            F.lit(0).alias("round"),
        )
        self.store.write_snapshot("frontier", frontier, 0, bucket_by="host")
        self.store.write_snapshot("seen", seen, 0, bucket_by="host")
        self.store.write_snapshot("edges", edges, 0)
        self.seen_index.reset()
        self.seen_index.add_urls(seen.select("url", "kind"), 0)
        self.seen_index.commit()

    # ------------------------------------------------------------------
    def run_round(self, rnd: int) -> RoundStats:
        """One crawl round, with AQE scoped off for its duration unless
        ``config.aqe_in_round`` — the round's plans are statically
        partitioned and skew-guarded by construction (see CrawlConfig),
        so adaptive re-planning only adds query-stage barrier latency
        (measured: 134.3 s -> 123.1 s at 480k pages / 16 pinned cores).
        The session value is restored afterwards so analytics queries
        keep AQE."""
        _aqe_key = "spark.sql.adaptive.enabled"
        _prev_aqe = self.spark.conf.get(_aqe_key)
        if not self.config.aqe_in_round:
            self.spark.conf.set(_aqe_key, "false")
        try:
            return self._run_round_inner(rnd)
        finally:
            self.spark.conf.set(_aqe_key, _prev_aqe)

    def _run_round_inner(self, rnd: int) -> RoundStats:
        """One crawl round = one bounded set of Spark jobs and one
        checkpoint transaction.

        Scale/plan discipline:
        - the fetch join broadcasts the (small) admitted URL list into
          the pages scan, so page payloads NEVER shuffle; Spark's
          runtime bloom filtering prunes the scan further
        - extraction runs map-side on the scan output (mapInPandas)
        - counters come from parquet footers + the written metrics
          snapshot (driver-side pyarrow), not from extra count() jobs
        """
        spark, cfg = self.spark, self.config
        t0 = time.monotonic()
        frontier = self.store.read_snapshot(spark, "frontier")
        assert frontier is not None, "seed() first"
        n_polled = self.store.count_rows("frontier") or 0

        # ---- admission pipeline (cheap-first, crawler.rs:653-704) ----
        # the state check is served by the bucketed SeenIndex (point-
        # lookup economics): the composed seen TABLE is never read in
        # the round loop — only at compaction / recovery / analytics
        # time — so per-round read cost tracks |frontier|, not |seen|
        recrawl_on = cfg.recrawl_interval_s is not None
        eligible = filter_age(frontier, cfg.max_queue_age)
        eligible = filter_state_indexed(eligible, self.seen_index, allow_recrawl=recrawl_on)
        cooldown_deferred = None
        if recrawl_on:
            host_state_prev = self.store.read_snapshot(spark, "host_state")
            eligible, cooldown_deferred = filter_recrawl_cooldown(
                eligible, host_state_prev, cfg.recrawl_interval_s
            )
        eligible = filter_blacklist(eligible, cfg.blacklist)
        eligible = filter_budget(eligible, cfg)
        if cfg.respect_robots_txt and self.robots_parsed is not None:
            # keep_delay: crawl_delay_ms rides this join, so the
            # politeness scheduler below skips its own robots join —
            # one robots join/broadcast build per round instead of two
            eligible = filter_robots(
                eligible, self.robots_parsed, broadcast=self._robots_broadcast,
                keep_delay=True,
            )

        sched = admit_window(
            eligible,
            self.robots_parsed,
            default_delay_ms=cfg.delay_ms,
            round_budget_ms=cfg.round_budget_ms,
            broadcast_robots=self._robots_broadcast,
        ).cache()
        try:
            admitted = sched.filter(F.col("admitted"))
            deferred = sched.filter(~F.col("admitted")).select(
                "url",
                "host",
                "is_seed",
                (F.col("age") + 1).alias("age"),
                F.lit(True).alias("host_was_in_use"),
                *DEPTH_COLS,
                "enqueue_round",
            )

            # ---- admission log (ordering parity, SURVEY.md §7) ----
            admission_log = admitted.select(
                F.lit(rnd).alias("round"),
                "host",
                F.col("admission_index").cast("int"),
                "url",
            )

            # ---- simulated fetch: broadcast the admitted rows (url + the
            # crawl state the results rows need: host/is_seed/depth triple)
            # into the pages scan (payloads never shuffle; misses =
            # fetch-error analog -> InternalError, crawler.rs:608-622).
            # ONE broadcast serves both the fetch semi-join and the results
            # metadata: the admitted-side columns ride the join output
            # through the extraction pass as passthrough columns, so the
            # round never builds a SECOND driver-side hash relation of the
            # admitted set (each build is serial driver wall — collect +
            # relation build — that a 16-core leg pays at the same price as
            # a 4-core leg). Above the configured threshold the broadcast
            # itself would be multi-GB, so fall back to a shuffled join —
            # n_polled (an upper bound on admissions) comes free from the
            # frontier parquet footers ----
            admitted_meta = admitted.select("url", "host", "is_seed", *DEPTH_COLS)
            adm_side = admitted_meta
            if n_polled <= cfg.broadcast_fetch_max_urls:
                adm_side = F.broadcast(adm_side)
            hit_pages = self.pages.join(adm_side, on="url", how="inner")

            # ---- extraction (decode -> text -> links -> lang), map-side ----
            respect_nofollow = cfg.respect_nofollow
            aggressive = cfg.use_aggressive_extractors

            def _extract(it):
                return extract_pages_batch(
                    it, respect_nofollow=respect_nofollow, aggressive=aggressive
                )

            from pyspark.sql.types import BooleanType, LongType, StringType, StructField

            from ..schemas import extracted_schema_with_passthrough

            page_fields = {f.name: f for f in self.pages.schema.fields}
            # passthrough order must match extract_pages_batch's canonical
            # column order: pages metadata first, then the admitted row's
            # crawl state
            passthrough = [
                page_fields[c]
                for c in ("warc_ts", "status", "headers")
                if c in page_fields
            ] + [
                StructField("host", StringType(), True),
                StructField("is_seed", BooleanType(), True),
                *[StructField(c, LongType(), True) for c in DEPTH_COLS],
            ]
            extracted = hit_pages.select(
                "url", "warc_ts", "html", *self._page_meta,
                "host", "is_seed", *DEPTH_COLS,
            ).mapInPandas(_extract, extracted_schema_with_passthrough(passthrough))
            # sched is cached (above); the FIRST consumer — the results
            # write's broadcast build of the admitted set — fills the cache
            # and every later consumer (misses, deferred, admission log,
            # host_state) reads it warm. The former explicit sched.count()
            # here was one whole extra Spark job per round for state the
            # next job materializes anyway (round-6 fixed-cost diet).

            # misses = admitted URLs with no page row (fetch-error analog ->
            # InternalError, crawler.rs:608-622) — computed from the url
            # column alone (columnar-pruned scan), NOT from the extraction
            # output, so extraction stays a single pass
            misses = admitted.join(self.pages.select("url"), on="url", how="left_anti")

            # ---- results rows (single extraction pass, links included —
            # CrawlResult carries its outlinks in the reference too,
            # result.rs:32-90; the frontier path re-reads the committed
            # links column columnar-pruned instead of caching ~1 GB of
            # extraction output in executor memory) ----
            empty_map = F.create_map().cast("map<string,string>")
            links_type = "array<struct<url:string,kind:string,method:string,host:string>>"
            status_expr = (
                F.coalesce(F.col("status"), F.lit(200))
                if "status" in extracted.columns
                else F.lit(200)
            )
            headers_expr = (
                F.coalesce(F.col("headers"), empty_map)
                if "headers" in extracted.columns
                else empty_map
            )
            # results rows carry the crawl state of their OWN admission —
            # host + is_seed + the three depth longs — passed through the
            # fetch join and the extraction batch (passthrough columns), so
            # every downstream consumer (link expansion, state transitions)
            # reads them from the committed snapshot and the round builds
            # NO second hash relation of the admitted set. At 10^10-frontier
            # scale the admitted set is millions of rows per round:
            # rebuilding it as a driver-side broadcast is a serial stage
            # the plan doesn't need (20 extra bytes per results row does
            # the same job shuffle-free AND join-free).
            results = extracted.select(
                "url",
                "host",
                "is_seed",
                *DEPTH_COLS,
                F.lit(rnd).alias("fetched_round"),
                F.col("warc_ts").alias("fetched_at"),
                status_expr.cast("int").alias("status"),
                headers_expr.alias("headers"),
                F.lit(None).cast("string").alias("redirect"),
                "format",
                "encoding",
                "had_decode_errors",
                "lang",
                "lang_confidence",
                "text",
                F.size(F.filter("links", lambda l: l["kind"] != "data")).alias("n_links"),
                F.lit(True).alias("fetched"),
                F.col("links").cast(links_type).alias("links"),
            )
            miss_results = misses.select(
                "url",
                "host",
                "is_seed",
                *DEPTH_COLS,
                F.lit(rnd).alias("fetched_round"),
                F.lit(None).cast("timestamp").alias("fetched_at"),
                F.lit(404).alias("status"),
                F.create_map().cast("map<string,string>").alias("headers"),
                F.lit(None).cast("string").alias("redirect"),
                F.lit(None).cast("string").alias("format"),
                F.lit(None).cast("string").alias("encoding"),
                F.lit(None).cast("boolean").alias("had_decode_errors"),
                F.lit(None).cast("string").alias("lang"),
                F.lit(None).cast("double").alias("lang_confidence"),
                F.lit(None).cast("string").alias("text"),
                F.lit(0).alias("n_links"),
                F.lit(False).alias("fetched"),
                F.array().cast(links_type).alias("links"),
            )

            # ---- commit the results snapshot: THE single extraction pass
            # of the round (scan -> decode -> extract -> write; nothing
            # cached, nothing computed twice). This job streams the full
            # page payload through the Python extractor; by default it
            # keeps the session's 512-row Arrow batches. A nonzero
            # config.extract_arrow_batch overrides the batch size for
            # this action only, restored before the frontier path ----
            st = self.store
            _arrow_bs_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
            _prev_bs = spark.conf.get(_arrow_bs_key)
            if cfg.extract_arrow_batch:
                spark.conf.set(_arrow_bs_key, str(cfg.extract_arrow_batch))
            try:
                st.write_snapshot("results", results.unionByName(miss_results), rnd)
            finally:
                if cfg.extract_arrow_batch:
                    spark.conf.set(_arrow_bs_key, _prev_bs)
            res_read = st.read_snapshot(spark, "results", rnd)

            # ---- link expansion from the committed links column (columnar
            # pruning: only url + depth triple + links are read back) ----
            edges, expanded = expand_links(res_read, rnd)

            # salted two-phase dedup to unique candidates w/ lowest depth
            candidates = aggregate_candidates(expanded)

            # ---- seen-set membership (the core operator): bucket-routed
            # bloom probe + exact confirm against the persistent SeenIndex.
            # The seen TABLE is not shuffled at all here — each task reads
            # only its bucket's bitmap (and, on bloom hits, that bucket's
            # hash-pair delta chain) from the store. aligned=True: the
            # candidate agg above already hash-partitions by url with
            # P == num_buckets, which IS the index's bucket routing
            # (pmod(hash(url), B)), so the probe adds ZERO exchange — the
            # whole expand->dedup->seen-filter path is one shuffle ----
            # origin via the JVM PSL plan (label slicing + per-depth
            # broadcast joins, functions/jvm_url.py) — equivalence to the
            # Python kernel is pinned by test_origin_matches_kernel /
            # test_fixture_corpus_origin_parity. The former pandas UDF here
            # was the frontier chain's only remaining Python stage after
            # the probe: a second JVM<->Arrow round trip over every
            # surviving URL, ~2 s of non-scaling wall per round at 480k
            # pages. Broadcast joins preserve the probe's bucket-aligned
            # partitioning (no exchange added).
            new_urls = attach_origin(
                self.seen_index.prune_new(candidates, aligned=self._probe_aligned),
                spark,
                "url",
                "host",
            ).filter(F.col("host").isNotNull())

            # ---- state transitions for this round (batch MERGE): one
            # branch over the committed results (fetched -> Processed,
            # miss -> InternalError) ----
            fetch_updates = res_read.select(
                "url",
                "host",
                F.when(F.col("fetched"), F.lit(KIND_PROCESSED_AND_STORED))
                .otherwise(F.lit(KIND_INTERNAL_ERROR))
                .alias("kind"),
                F.lit(254).alias("last_significant_kind"),
                F.lit(False).alias("recrawl"),
                "is_seed",
                F.current_timestamp().alias("ts"),
                *DEPTH_COLS,
            )
            # ---- next frontier = deferred + newly discovered ----
            new_frontier = new_urls.select(
                "url",
                "host",
                F.lit(False).alias("is_seed"),
                F.lit(0).alias("age"),
                F.lit(False).alias("host_was_in_use"),
                *DEPTH_COLS,
                F.lit(rnd + 1).alias("enqueue_round"),
            )
            frontier_next = deferred.unionByName(new_frontier)
            if cooldown_deferred is not None:
                frontier_next = frontier_next.unionByName(cooldown_deferred)

            # ---- commit the rest of the round: the frontier snapshot
            # materializes the link-expansion + bloom-anti-join path exactly
            # once; every later consumer of "new URLs" reads the committed
            # snapshot instead ----
            st.write_snapshot("frontier", frontier_next, rnd + 1, bucket_by="host")
            fr_read = st.read_snapshot(spark, "frontier", rnd + 1)
            new_from_snapshot = (
                fr_read
                .filter(F.col("enqueue_round") == rnd + 1)
                .select("url", "host", *DEPTH_COLS)
            )
            new_seen = new_from_snapshot.select(
                "url",
                "host",
                F.lit(KIND_DISCOVERED).alias("kind"),
                F.lit(254).alias("last_significant_kind"),
                F.lit(False).alias("recrawl"),
                F.lit(False).alias("is_seed"),
                F.current_timestamp().alias("ts"),
                *DEPTH_COLS,
            )
            # merge-on-read: commit ONLY this round's updates as a seen
            # delta (O(|updates|) write, never a full seen rewrite); reads
            # compose the chain via compose_seen and compaction below burns
            # it into a new base every k rounds
            updates = fetch_updates.unionByName(new_seen)

            from concurrent.futures import ThreadPoolExecutor

            jobs = {
                "seen": lambda: st.write_delta("seen", updates, rnd + 1, bucket_by="host"),
            }
            # host_state (recrawl_management/mod.rs:27-70) is ALWAYS
            # maintained — the recrawl-cooldown admission predicate consults
            # it. Merge-on-read: commit ONLY this round's touched hosts as
            # a delta (O(round hosts) write, never a full-table
            # read+rewrite); reads fold max-by-host via compose_host_state
            # and compaction below burns the fold into a new base.
            host_state_now = admitted.groupBy("host").agg(
                F.max("scheduled_offset_ms").alias("last_offset_ms"),
                F.max("crawl_delay_ms").alias("crawl_delay_ms"),
            ).select(
                "host",
                F.timestamp_millis(
                    F.unix_millis(F.current_timestamp()) + F.col("last_offset_ms")
                ).alias("last_access"),
                "crawl_delay_ms",
            )
            jobs["host_state"] = lambda: st.write_delta(
                "host_state", host_state_now, rnd + 1, bucket_by="host"
            )
            if cfg.audit_tables:
                jobs["edges"] = lambda: st.write_snapshot("edges", edges, rnd + 1)
                jobs["order"] = lambda: st.write_snapshot("order", admission_log, rnd)

            # ---- per-bucket metrics from the committed snapshots (lineage,
            # north rule) — one light aggregation over written files; runs
            # INSIDE the concurrent commit pool (it reads the results/
            # frontier parquet written above, independent of the other
            # writes) ----
            bucket = F.pmod(F.xxhash64(F.col("host")), F.lit(self.num_buckets)).cast("int")
            r_agg = (
                res_read
                .select("host", "status", "n_links")
                .withColumn("bucket", bucket)
                .groupBy("bucket")
                .agg(
                    F.count("*").alias("admitted"),
                    F.sum(F.when(F.col("status") == 200, 1).otherwise(0)).alias("fetched_ok"),
                    F.sum(F.when(F.col("status") != 200, 1).otherwise(0)).alias("fetch_errors"),
                    F.sum("n_links").alias("links_extracted"),
                )
            )
            f_agg = (
                fr_read
                .select("host", "enqueue_round")
                .withColumn("bucket", bucket)
                .groupBy("bucket")
                .agg(
                    F.sum(F.when(F.col("enqueue_round") <= rnd, 1).otherwise(0)).alias("deferred"),
                    F.sum(F.when(F.col("enqueue_round") == rnd + 1, 1).otherwise(0)).alias("new_urls"),
                )
            )
            wall = int((time.monotonic() - t0) * 1000)
            metrics = (
                r_agg.join(f_agg, on="bucket", how="full_outer")
                .select(
                    F.lit(rnd).alias("round"),
                    "bucket",
                    F.lit(n_polled).cast("long").alias("polled"),
                    F.coalesce(F.col("admitted"), F.lit(0)).cast("long").alias("admitted"),
                    F.coalesce(F.col("deferred"), F.lit(0)).cast("long").alias("deferred"),
                    F.coalesce(F.col("fetched_ok"), F.lit(0)).cast("long").alias("fetched_ok"),
                    F.coalesce(F.col("fetch_errors"), F.lit(0)).cast("long").alias("fetch_errors"),
                    F.coalesce(F.col("links_extracted"), F.lit(0)).cast("long").alias("links_extracted"),
                    F.coalesce(F.col("new_urls"), F.lit(0)).cast("long").alias("new_urls"),
                    F.lit(wall).cast("long").alias("wall_ms"),
                )
            )
            # ~num_buckets rows total: coalesce to one output file (the
            # partial aggregations upstream stay parallel; only the final
            # 32-row reduce collapses) — the driver reads this snapshot
            # back every round via pyarrow, and 32 near-empty parquet
            # files per round were pure file-op overhead (round 6)
            jobs["metrics"] = lambda: st.write_snapshot("metrics", metrics.coalesce(1), rnd)
            # incremental seen-index maintenance indexes this round's full
            # state delta — the newly discovered URLs (Discovered) AND the
            # fetch transitions (Processed/InternalError), both read from
            # committed snapshots — so the index can serve the next round's
            # dequeue state check without touching the seen table. Rides
            # the concurrent pool; the index manifest is only published
            # AFTER the pool succeeds.
            jobs["seen_index"] = lambda: self.seen_index.add_urls(
                updates.select("url", "kind"), rnd + 1
            )
            with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                futs = {k: pool.submit(fn) for k, fn in jobs.items()}
                for f in futs.values():
                    f.result()
            self.seen_index.commit()
            if self.config.seen_compact_every and (rnd + 1) % self.config.seen_compact_every == 0:
                # distributed: one executor task per bucket via the storage seam
                self.seen_index.compact(spark)
                st.compact_table(spark, "seen", bucket_by="host")
                st.compact_table(spark, "host_state", bucket_by="host")

            # driver-side stats from the tiny metrics snapshot (no Spark job)
            mt = st.read_small("metrics", rnd)
            sums = {
                c: sum(mt.column(c).to_pylist()) if mt is not None and mt.num_rows else 0
                for c in (
                    "admitted", "deferred", "fetched_ok", "fetch_errors",
                    "links_extracted", "new_urls",
                )
            }

            return RoundStats(
                rnd,
                n_polled,
                sums["admitted"],
                sums["deferred"],
                sums["fetched_ok"],
                sums["fetch_errors"],
                sums["links_extracted"],
                sums["new_urls"],
                int((time.monotonic() - t0) * 1000),
            )
        finally:
            # released on every exit: a failed round must not leak the
            # cached admission schedule into the next one
            sched.unpersist()

    # ------------------------------------------------------------------
    def run(self, seeds: list[str] | None = None, max_rounds: int | None = None) -> CrawlReport:
        """Full crawl: seed (unless resuming) then loop rounds until the
        frontier drains or max_rounds (worker-barrier analog,
        atra/src/app/atra.rs:340-386)."""
        if seeds is not None:
            self.seed(seeds)
            start = 0
        else:  # resume from checkpoint (RECOVER analog, app/atra.rs:179-199)
            start = self.store.latest_round("frontier") or 0
            if self.seen_index.committed_round != start:
                # index out of date (crash between store commit and
                # index publish, or a fresh engine over an old store):
                # rebuild the membership cache from the committed seen
                # table, exactly like the round-2 bloom rebuild
                seen = self.store.read_snapshot(self.spark, "seen")
                if seen is not None:
                    self.seen_index.rebuild(seen.select("url", "kind"), start)
        report = CrawlReport()
        limit = max_rounds if max_rounds is not None else self.config.max_rounds
        refilled = False
        rnd = start
        while rnd < start + limit:
            n = self.store.count_rows("frontier")
            if not n:
                # after-drain recrawl refill, once (app/atra.rs:392-414)
                if self.config.recrawl_interval_s is not None and not refilled:
                    refilled = True
                    from datetime import datetime, timezone

                    from .recover import recrawl_candidates

                    seen = self.store.read_snapshot(self.spark, "seen")
                    cands = recrawl_candidates(
                        seen,
                        datetime.now(timezone.utc),
                        self.config.recrawl_interval_s,
                        rnd,
                        require_flag=False,
                    )
                    self.store.write_snapshot("frontier", cands, rnd, bucket_by="host")
                    if self.store.count_rows("frontier"):
                        continue
                break
            report.rounds.append(self.run_round(rnd))
            rnd += 1
        return report
