"""The polite_crawl workload.

A timed unit is one whole crawl on a fresh store: ``seed`` plus every
``run_round`` (``CrawlEngine.run``). Units repeat until the run's
seconds are used up; metrics are medians over units. Engine
construction is set-up, not part of a unit.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from . import procstat, tracing
from .corpus import Corpus, crawl_config, load_corpus

NUM_BUCKETS = 8  # == shuffle partitions, so the seen probe stays aligned

N_PAGES = 1500
SEEDS_PER_HOST = 1
# 100 ms politeness in a 2 s round: at most 20 pages per host per round
# (1 on hosts whose robots.txt asks for a 2 s crawl delay). Round 0
# fetches the per-host seeds; round 1 is a bulk round in which the
# mega host's limit defers most of its pages, and it compacts.
CONFIG = {
    "delay_ms": 100,
    "round_budget_ms": 2_000,
    "max_rounds": 2,
    "seen_compact_every": 2,
}

WARMUP_PAGES = 100  # small fixed-seed corpus for in-process warm-up
WARMUP_SEED = 1
REPLAY_PAGES = 300  # extraction-kernel replay sample (traced run)

COUNT_FIELDS = (
    "polled", "admitted", "deferred", "fetched_ok", "fetch_errors",
    "links_extracted", "new_urls",
)
STORE_TABLES = ("results", "frontier", "seen", "host_state", "edges", "order", "metrics")
POOL_SPANS = {
    "store.write_delta:seen": "seen_delta",
    "store.write_delta:host_state": "host_state",
    "store.write_snapshot:metrics": "metrics",
    "store.write_snapshot:edges": "edges",
    "store.write_snapshot:order": "order",
    "seen_index.add_urls": None,
}


def seeds_per_host(urls: list[str], n: int) -> list[str]:
    """The first ``n`` pages of every host, in corpus order."""
    taken: dict[str, int] = {}
    out = []
    for u in urls:
        host = u.split("/")[2]
        if taken.get(host, 0) < n:
            taken[host] = taken.get(host, 0) + 1
            out.append(u)
    return out


def _table_arg(args, kwargs):
    return kwargs.get("table", args[0] if args else "?")


def _compact_table_arg(args, kwargs):
    return kwargs.get("table", args[1] if len(args) > 1 else "?")


class CrawlWorkload:
    def __init__(self, h) -> None:
        self.h = h

    # -- set-up ------------------------------------------------------------
    def prepare_inputs(self) -> None:
        cache = os.path.join(self.h.work, "corpus")
        self.corpus = load_corpus(cache, N_PAGES, self.h.seed)
        self.warm_corpus = load_corpus(cache, WARMUP_PAGES, WARMUP_SEED)
        self.seeds = seeds_per_host(self.corpus.page_urls, SEEDS_PER_HOST)

    def setup(self) -> None:
        pass  # engine construction is timed per unit (init_s)

    def _config(self, corpus: Corpus, **overrides):
        return crawl_config(
            corpus,
            extract_arrow_batch=int(os.environ["ATRA_EXTRACT_ARROW_BATCH"]),
            aqe_in_round=os.environ["ATRA_AQE_IN_ROUND"] == "1",
            **{**CONFIG, **overrides},
        )

    def _engine(self, corpus: Corpus, store_dir: str, tracer=None, **overrides):
        from atra_spark.plans.crawl import CrawlEngine
        from atra_spark.sources.store import CheckpointStore

        shutil.rmtree(store_dir, ignore_errors=True)
        store = CheckpointStore(store_dir, num_buckets=NUM_BUCKETS)
        if tracer is not None:
            tracer.wrap(store, "write_snapshot", "store.write_snapshot", _table_arg)
            tracer.wrap(store, "write_delta", "store.write_delta", _table_arg)
            tracer.wrap(store, "compact_table", "store.compact_table", _compact_table_arg)
        t0 = time.monotonic()
        with tracing.maybe_span(tracer, "plans.engine_init"):
            eng = CrawlEngine(
                self.h.spark, store, self._config(corpus, **overrides),
                corpus.pages_path, corpus.robots_path, num_buckets=NUM_BUCKETS,
            )
        init_s = time.monotonic() - t0
        if tracer is not None:
            tracer.wrap(eng, "seed", "plans.seed")
            tracer.wrap(eng, "run_round", "plans.run_round")
            for m in ("add_urls", "commit", "compact"):
                tracer.wrap(eng.seen_index, m, f"seen_index.{m}")
        return eng, store, init_s

    def warm_up(self) -> None:
        """Seed and one compacting round on a small corpus, so every code
        path of a timed unit has run once in this process."""
        eng, _store, _ = self._engine(
            self.warm_corpus, os.path.join(self.h.run_dir, "warm"),
            max_rounds=1, seen_compact_every=1,
        )
        eng.run(seeds=seeds_per_host(self.warm_corpus.page_urls, SEEDS_PER_HOST))

    # -- timed units -------------------------------------------------------
    def run_unit(self, i: int, tracer=None) -> dict:
        h = self.h
        store_dir = os.path.join(h.run_dir, f"store{i}")
        eng, store, init_s = self._engine(self.corpus, store_dir, tracer)
        a = h.sampler.mark()
        with tracing.maybe_span(tracer, "plans.crawl"):
            report = eng.run(seeds=self.seeds)
        d = procstat.delta(a, h.sampler.mark())
        rounds = [s.wall_ms / 1e3 for s in report.rounds]
        return {
            "init_s": init_s,
            "wall_s": d["wall_s"],
            "cpu_s": d["cpu_s"],
            "steal_s": d["steal_s"],
            "proc": d,
            "fetched": report.fetched_total,
            "rounds_s": rounds,
            "counts": [[getattr(s, f) for f in COUNT_FIELDS] for s in report.rounds],
            "store": store,
            "engine": eng,
        }

    def summarize(self, units: list[dict]) -> dict:
        walls = [u["wall_s"] for u in units]
        return {
            "wall_s": statistics.median(walls),
            "items_per_s": statistics.median(u["fetched"] / u["wall_s"] for u in units),
            "step_p50_s": statistics.median(
                statistics.median(u["rounds_s"]) for u in units
            ),
            "cpu_s": statistics.median(u["cpu_s"] for u in units),
            "init_s": statistics.median(u["init_s"] for u in units),
        }

    # -- output checks (after the timed region) ----------------------------
    def check(self, units: list[dict]) -> tuple[int, list[str]]:
        """Number of failed units and what failed. The last unit is
        checked against the serial oracle (seen set, admission order,
        fetched count) and every fetched page's links against the
        corpus's golden links; every earlier unit must repeat its
        per-round counts exactly."""
        from pyspark.sql import functions as F

        from atra_spark.sources.oracle_crawler import crawl_oracle

        spark, c = self.h.spark, self.corpus
        last = units[-1]
        cfg = self._config(c)
        oracle = crawl_oracle(
            c.golden_links, set(c.page_urls), c.robots, self.seeds, cfg,
            max_rounds=cfg.max_rounds,
        )
        errors: list[str] = []
        store = last["store"]
        seen = {r["url"]: r["kind"] for r in store.read_snapshot(spark, "seen").collect()}
        if seen != {u: k for u, (k, _s, _d) in oracle.seen.items()}:
            errors.append("seen set differs from the oracle")
        order = sorted(
            (r["round"], r["host"], r["admission_index"], r["url"])
            for r in store.read_union(spark, "order").collect()
        )
        if order != sorted(oracle.order):
            errors.append("admission ordering differs from the oracle")
        if last["fetched"] != len(oracle.order):
            errors.append(f"fetched {last['fetched']} != oracle {len(oracle.order)}")
        rows = (
            store.read_union(spark, "results")
            .filter(F.col("fetched"))
            .select("url", "links")
            .collect()
        )
        bad = sum(
            1
            for r in rows
            if [(lk["url"], lk["kind"], lk["method"]) for lk in r["links"]]
            != c.golden_links[r["url"]]
        )
        if bad or not rows:
            errors.append(f"links differ from golden_links on {bad} of {len(rows)} pages")
        failed = 1 if errors else 0
        for u in units[:-1]:
            if u["counts"] != last["counts"]:
                failed += 1
                errors.append("per-round counts differ between units of one run")
        return failed, errors

    def counts(self, units: list[dict]) -> dict:
        return {"rounds": units[-1]["counts"], "fetched": units[-1]["fetched"]}

    # -- traced unit -------------------------------------------------------
    def per_layer(self, unit: dict, tracer: tracing.Tracer, rollup: dict) -> dict:
        spans = [s for s in tracer.spans if s["end"] is not None]
        by_id = {s["id"]: s for s in spans}
        named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
        rounds = named("plans.run_round")
        round_ids = {s["id"] for s in rounds}
        in_round = lambda s: s["parent"] in round_ids  # noqa: E731
        crawl = named("plans.crawl")[0]
        m: dict[str, float] = {}
        m["plans.engine_init_s"] = sum(map(tracing.duration, named("plans.engine_init")))
        m["plans.seed_s"] = sum(map(tracing.duration, named("plans.seed")))
        m["plans.rounds"] = len(rounds)
        m["plans.round_s.max"] = max(map(tracing.duration, rounds))
        covered = tracing.union_length(
            [(s["start"], s["end"]) for s in named("plans.seed") + rounds]
        )
        m["plans.span_coverage"] = covered / tracing.duration(crawl)

        def round_sum(name: str, self_only: bool = False) -> float:
            f = (lambda s: tracing.self_time(s, spans)) if self_only else tracing.duration
            return sum(f(s) for s in named(name) if in_round(s))

        m["store.results_s"] = round_sum("store.write_snapshot:results")
        m["store.frontier_s"] = round_sum("store.write_snapshot:frontier")
        pool_s = 0.0
        for r in rounds:
            pool = [s for s in spans if s["parent"] == r["id"] and s["name"] in POOL_SPANS]
            pool += [s for s in spans if s["parent"] == r["id"] and s["name"] == "seen_index.commit"]
            if pool:
                pool_s += max(s["end"] for s in pool) - min(s["start"] for s in pool)
        m["store.commit_pool_s"] = pool_s
        for span_name, key in POOL_SPANS.items():
            if key:
                m[f"store.{key}_s"] = round_sum(span_name, self_only=True)
        m["store.compact_s"] = sum(
            tracing.duration(s) for s in spans if s["name"].startswith("store.compact_table")
        )
        root = unit["store"].root
        for t in STORE_TABLES:
            files = _parquet_files(os.path.join(root, t))
            m[f"store.files_written.{t}"] = len(files)
            m[f"store.bytes_written.{t}"] = sum(os.path.getsize(p) for p in files)
        for name in ("add_urls", "commit", "compact"):
            m[f"seen_index.{name}_s"] = sum(map(tracing.duration, named(f"seen_index.{name}")))
        si_files = [
            os.path.join(dp, f)
            for dp, _dn, fs in os.walk(unit["engine"].seen_index.root)
            for f in fs
        ]
        m["seen_index.bytes"] = sum(os.path.getsize(p) for p in si_files)
        m["seen_index.files"] = len(si_files)

        tot = [sum(r[i] for r in unit["counts"]) for i in range(len(COUNT_FIELDS))]
        c = dict(zip(COUNT_FIELDS, tot))
        m["frontier.polled"] = c["polled"]
        m["politeness.admitted"] = c["admitted"]
        m["politeness.deferred"] = c["deferred"]
        m["politeness.admit_ratio"] = c["admitted"] / c["polled"] if c["polled"] else 0.0
        m["frontier.links_extracted"] = c["links_extracted"]
        m["frontier.new_urls"] = c["new_urls"]
        m["frontier.new_per_link"] = (
            c["new_urls"] / c["links_extracted"] if c["links_extracted"] else 0.0
        )

        def tag(s: dict) -> str | None:
            chain = [s] + list(tracing.ancestors(s, by_id))
            names = [x["name"] for x in chain]
            if "plans.seed" in names:
                return "seed"
            if any(n.startswith("store.compact_table") or n == "seen_index.compact" for n in names):
                return "compact"
            for n in names:
                if n == "store.write_snapshot:results":
                    return "results"
                if n == "store.write_snapshot:frontier":
                    return "frontier"
                if n in POOL_SPANS:
                    return "pool"
            return "round_other" if "plans.run_round" in names else None

        by_tag: dict[str, list] = {}
        for sid, r in rollup.items():
            t = tag(by_id[sid]) if sid in by_id else None
            if t is not None:
                by_tag.setdefault(t, []).append(r)
        spark_m = session_metrics(rollup.values(), unit["proc"])
        for t in ("seed", "results", "frontier", "pool", "compact", "round_other"):
            agg = tracing.sum_rollups(by_tag.get(t, []))
            spark_m[f"spark.jobs.{t}"] = agg["jobs"]
            spark_m[f"spark.executor_run_s.{t}"] = agg["executor_run_s"]
        spark_m["spark.jobs_per_round"] = (
            sum(tracing.sum_rollups(by_tag.get(t, []))["jobs"]
                for t in ("results", "frontier", "pool", "compact", "round_other"))
            / max(1, len(rounds))
        )
        m.update(spark_m)
        m.update(self.kernel_metrics())
        return m

    def kernel_metrics(self) -> dict:
        """Replay ``extract_pages_batch`` in this process over a fixed
        sample of the workload's pages: once untimed (warm caches and
        imports), once timed, once with the layer functions traced."""
        import pyarrow.parquet as pq

        tbl = pq.read_table(self.corpus.pages_path, columns=["url", "warc_ts", "html"])
        pdf = tbl.slice(0, REPLAY_PAGES).to_pandas()
        n = len(pdf)
        tracing.replay_kernel(pdf)
        wall, out = tracing.replay_kernel(pdf)
        tr = tracing.Tracer()
        tracing.replay_kernel(pdf, tr)
        m = {"extract.replay_pages": n, "extract.ms_per_page": wall * 1e3 / n}
        for layer in tracing.KERNEL_LAYERS:
            self_s = sum(
                tracing.self_time(s, tr.spans) for s in tr.spans if s["name"] == f"extract.{layer}"
            )
            m[f"extract.{layer}.ms_per_page"] = self_s * 1e3 / n
        res = out[0]
        fmts = res["format"].value_counts().to_dict()
        m["extract.pages.HTML"] = int(fmts.get("HTML", 0))
        m["extract.pages.other"] = int(n - fmts.get("HTML", 0))
        m["extract.decode_errors"] = int(res["had_decode_errors"].fillna(False).sum())
        m["extract.links_per_page"] = sum(len(x) for x in res["links"]) / n
        return m


def _parquet_files(d: str) -> list[str]:
    return [
        os.path.join(dp, f)
        for dp, _dn, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    ]


def session_metrics(rollups, proc: dict) -> dict:
    tot = tracing.sum_rollups(rollups)
    m = {f"spark.{k}": v for k, v in tot.items()}
    m["proc.jvm_cpu_s"] = proc["jvm_cpu_s"]
    m["proc.pyworker_cpu_s"] = proc["pyworker_cpu_s"]
    m["proc.driver_cpu_s"] = proc["driver_cpu_s"]
    return m
