#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload polite_crawl --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it carries telemetry that
is not a metric (steal, load, task slots, pinned knobs, count repeats).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

TASK_SLOTS = 3  # local[3]: one of four cores left to the Python driver and daemons
SHUFFLE_PARTITIONS = 8  # == the crawl's num_buckets

# every engine knob read from the environment: pinned to one value here
# (or removed), and echoed in the telemetry line
PINNED_ENV = {
    "ATRA_ARROW_BATCH": "512",
    "ATRA_EXTRACT_ARROW_BATCH": "0",
    "ATRA_AQE_IN_ROUND": "0",
    "ATRA_PARQUET_CODEC": "snappy",
    "ATRA_SEEN_BLOOM_CACHE": "256",
    "ATRA_SEEN_URLSET_CACHE": "64",
    "SPARK_DRIVER_MEM": "2g",
    "SPARK_GRAFT_CPUS": str(TASK_SLOTS),
    "PYTHONHASHSEED": "0",
}
UNSET_ENV = ("ATRA_SPARK_CONF",)
UNSET_PREFIX = "ATRA_PHASE_TIMING"

WORKLOADS = ("polite_crawl", "analytics_pass")

END_TO_END = {
    "wall_s": "s",
    "items_per_s": "1/s",
    "step_p50_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

# (count): must repeat exactly across runs of one seed on one engine
COUNT_METRICS = (
    ["plans.rounds", "frontier.polled", "politeness.admitted", "politeness.deferred",
     "frontier.links_extracted", "frontier.new_urls", "extract.pages.HTML",
     "extract.pages.other", "extract.decode_errors", "spark.jobs", "spark.stages",
     "spark.tasks"]
    + [f"store.files_written.{t}" for t in
       ("results", "frontier", "seen", "host_state", "edges", "order", "metrics")]
    + [f"store.bytes_written.{t}" for t in
       ("results", "frontier", "seen", "host_state", "edges", "order", "metrics")]
)


def per_layer_units() -> dict[str, str]:
    from perfbench.analytics import QUERIES
    from perfbench.crawl import STORE_TABLES
    from perfbench.tracing import KERNEL_LAYERS

    u = {
        "plans.engine_init_s": "s", "plans.seed_s": "s", "plans.rounds": "count",
        "plans.round_s.max": "s", "plans.span_coverage": "ratio",
        "store.results_s": "s", "store.frontier_s": "s", "store.commit_pool_s": "s",
        "store.seen_delta_s": "s", "store.host_state_s": "s", "store.metrics_s": "s",
        "store.edges_s": "s", "store.order_s": "s", "store.compact_s": "s",
    }
    for t in STORE_TABLES:
        u[f"store.files_written.{t}"] = "count"
        u[f"store.bytes_written.{t}"] = "bytes"
    u.update({
        "seen_index.add_urls_s": "s", "seen_index.commit_s": "s",
        "seen_index.compact_s": "s", "seen_index.bytes": "bytes", "seen_index.files": "count",
        "frontier.polled": "count", "politeness.admitted": "count",
        "politeness.deferred": "count", "politeness.admit_ratio": "ratio",
        "frontier.links_extracted": "count", "frontier.new_urls": "count",
        "frontier.new_per_link": "ratio",
        "extract.ms_per_page": "ms", "extract.replay_pages": "count",
    })
    for layer in KERNEL_LAYERS:
        u[f"extract.{layer}.ms_per_page"] = "ms"
    u.update({
        "extract.links_per_page": "count", "extract.pages.HTML": "count",
        "extract.pages.other": "count", "extract.decode_errors": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
        "spark.spill_bytes": "bytes", "spark.jobs_per_round": "count",
    })
    for t in ("seed", "results", "frontier", "pool", "compact", "round_other"):
        u[f"spark.jobs.{t}"] = "count"
        u[f"spark.executor_run_s.{t}"] = "s"
    u.update({"proc.jvm_cpu_s": "s", "proc.pyworker_cpu_s": "s", "proc.driver_cpu_s": "s"})
    for q in QUERIES:
        u[f"analytics.{q}_s"] = "s"
    u["trace.overhead"] = "ratio"
    return u


def pin_env(run_dir: str) -> dict[str, str | None]:
    for k in list(os.environ):
        if k in UNSET_ENV or k.startswith(UNSET_PREFIX):
            del os.environ[k]
    os.environ.update(PINNED_ENV)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = ROOT
    os.environ["PYSPARK_PYTHON"] = sys.executable
    knobs = {k: os.environ.get(k) for k in (*PINNED_ENV, *UNSET_ENV)}
    knobs[UNSET_PREFIX + "*"] = None
    return knobs


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d in ("atra_spark", "perfbench"):
        for dp, _dn, fs in os.walk(os.path.join(ROOT, d)):
            paths += [os.path.join(dp, f) for f in fs if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def count_repeat(workload: str, seed: int, trace: bool, counts: dict) -> dict:
    """Compare this run's exact counts with the last run of the same
    workload, seed and code; report, never fail, a change."""
    d = os.path.join(WORK, "counts")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{workload}-s{seed}-t{int(trace)}.json")
    rec = {"code": code_digest(), "counts": counts}
    status: dict = {"status": "recorded"}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        if prev.get("code") != rec["code"]:
            status = {"status": "recorded (sources changed)"}
        else:
            differs = sorted(k for k in counts if prev["counts"].get(k) != counts[k])
            status = {"status": "match" if not differs else "MISMATCH", "differs": differs}
    with open(path, "w") as f:
        json.dump(rec, f)
    return status


def start_session(workload: str, run_dir: str, trace: bool, event_dir: str):
    from atra_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": (
            # initial heap = max heap: the heap does not grow by GC
            # history, so the JVM's share of peak RSS repeats
            f"-Xms{PINNED_ENV['SPARK_DRIVER_MEM']} "
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(event_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        f"perfbench-{workload}", cores=TASK_SLOTS,
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> list[int]:
    """Stop Spark, end the gateway JVM and wait for every child
    process (JVM, PySpark daemon, workers) to exit."""
    from pyspark import SparkContext

    from perfbench import procstat

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None and proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        SparkContext._gateway = None
        SparkContext._jvm = None
    return procstat.wait_for_children()


class Harness:
    def __init__(self, args, run_dir: str) -> None:
        self.seed = args.seed
        self.run_dir = run_dir
        self.work = WORK
        self.spark = None
        self.sampler = None


def run(args) -> dict:
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    knobs = pin_env(run_dir)
    sys.path.insert(0, ROOT)

    from perfbench import procstat, tracing
    from perfbench.analytics import AnalyticsWorkload
    from perfbench.crawl import CrawlWorkload

    h = Harness(args, run_dir)
    wl = AnalyticsWorkload(h) if args.workload == "analytics_pass" else CrawlWorkload(h)
    event_dir = os.path.join(run_dir, "eventlog")
    try:
        wl.prepare_inputs()  # untimed: corpus generation is cached per seed
        with procstat.TreeSampler() as sampler:
            h.sampler = sampler
            t0 = time.monotonic()
            h.spark = start_session(args.workload, run_dir, args.trace, event_dir)
            session_s = time.monotonic() - t0
            wl.setup()
            wl.warm_up()
            once_s = time.monotonic() - t0

            sampler.reset_peak()
            load0 = procstat.loadavg_1m()
            t_start = time.monotonic()
            units = []
            while not units or time.monotonic() - t_start < args.seconds:
                units.append(wl.run_unit(len(units)))
            timed_s = time.monotonic() - t_start
            peak_mb = sampler.peak_mb
            peak_detail = dict(sampler.peak_detail)
            load1 = procstat.loadavg_1m()

            traced = tracer = None
            if args.trace:
                tracer = tracing.Tracer(h.spark.sparkContext)
                traced = wl.run_unit(len(units), tracer)
            failed, errors = wl.check(units)
            killed = stop_session(h.spark)
            h.spark = None
        summary = wl.summarize(units)
        metrics = {
            "wall_s": summary["wall_s"],
            "items_per_s": summary["items_per_s"],
            "step_p50_s": summary["step_p50_s"],
            "cpu_s": summary["cpu_s"],
            "peak_rss_mb": peak_mb,
            "setup_s": once_s + summary["init_s"],
        }
        counts = wl.counts(units)
        if args.trace:
            rollup = tracing.rollup_event_log(event_dir)
            layer = dict.fromkeys(per_layer_units(), 0)
            layer.update(wl.per_layer(traced, tracer, rollup))
            layer["trace.overhead"] = traced["wall_s"] / summary["wall_s"]
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.json"))
            counts.update({k: layer[k] for k in COUNT_METRICS})
            out_metrics = {k: {"value": v, "unit": per_layer_units()[k]} for k, v in layer.items()}
        else:
            out_metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        attempted = len(units) if args.workload != "analytics_pass" else len(wl.queries)
        telemetry = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "units": len(units),
            "unit_wall_s": [u["wall_s"] for u in units],
            "unit_cpu_s": [u["cpu_s"] for u in units],
            "unit_steal_s": [u["steal_s"] for u in units],
            "steal_s": sum(u["steal_s"] for u in units),
            "loadavg_1m": [load0, load1],
            "peak_rss_detail": peak_detail,
            "task_slots": TASK_SLOTS,
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "session_start_s": session_s,
            "setup_once_s": once_s,
            "timed_s": timed_s,
            "error_rate": failed / max(1, attempted),
            "errors": errors,
            "count_repeat": count_repeat(args.workload, args.seed, args.trace, counts),
            "env": knobs,
            "children_killed": killed,
        }
        return {
            "telemetry": telemetry,
            "result": {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": out_metrics,
            },
        }
    finally:
        if h.spark is not None:  # an exception left the session running
            stop_session(h.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [
        p for p in ("atra_spark/__init__.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: engine sources not found in {ROOT}: {missing}", file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps({"telemetry": out["telemetry"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
