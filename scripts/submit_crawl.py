#!/usr/bin/env python
"""spark-submit entrypoint for the crawl engine (north rule: "launches
via spark-submit --py-files on multi-executor clusters").

Local smoke run (what this sandbox can execute):

    python scripts/package_pyfiles.sh   # builds dist/atra_spark.zip
    spark-submit --master local[8] \
        --py-files dist/atra_spark.zip \
        scripts/submit_crawl.py \
        --pages /path/pages.parquet --robots /path/robots.parquet \
        --store /path/checkpoint --seeds https://host0001.example/p0.html

Cluster run: swap --master for your cluster manager and size
--num-buckets to executor count × a small factor; everything else is
identical — the engine never relies on local mode (no driver-side row
collection, state tables are host-hash bucketed parquet snapshots).
"""

from __future__ import annotations

import argparse
import json
import sys


def codegen_defaults(submitted) -> dict[str, str]:
    """The engine's codegen-cache settings (``CODEGEN_CONF``) that the
    ``spark-submit --conf`` values in ``submitted`` (a ``SparkConf``)
    leave unset; a submitted value always wins."""
    from atra_spark.session import CODEGEN_CONF

    return {k: v for k, v in CODEGEN_CONF.items() if not submitted.contains(k)}


def main() -> int:
    p = argparse.ArgumentParser(description="atra_spark crawl driver")
    p.add_argument("--pages", required=True, help="pages parquet/table path")
    p.add_argument("--robots", required=True, help="robots parquet path")
    p.add_argument("--store", required=True, help="checkpoint store root")
    p.add_argument("--seeds", nargs="*", default=None, help="seed URLs (omit to resume)")
    p.add_argument("--seeds-file", default=None, help="file with one seed URL per line")
    p.add_argument("--max-rounds", type=int, default=None)
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--delay-ms", type=int, default=100)
    p.add_argument("--recrawl-interval-s", type=int, default=None)
    p.add_argument("--blacklist", nargs="*", default=[])
    p.add_argument("--no-robots", action="store_true")
    args = p.parse_args()

    # SparkSession comes from spark-submit's conf in cluster mode; the
    # engine's get_spark only fills in local-mode defaults when no
    # session exists yet. The codegen cache settings are not local-mode
    # defaults: without them every stage recompiles each round. The
    # context is created first so its conf shows what --conf set.
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    sc = SparkContext.getOrCreate(SparkConf().setAppName("atra-spark-crawl"))
    spark = SparkSession.builder.config(map=codegen_defaults(sc.getConf())).getOrCreate()

    from atra_spark.config import CrawlConfig
    from atra_spark.plans.crawl import CrawlEngine
    from atra_spark.sources.store import CheckpointStore

    seeds = list(args.seeds or [])
    if args.seeds_file:
        with open(args.seeds_file) as f:
            seeds += [line.strip() for line in f if line.strip()]

    cfg_kwargs = dict(
        delay_ms=args.delay_ms,
        blacklist=args.blacklist,
        respect_robots_txt=not args.no_robots,
        recrawl_interval_s=args.recrawl_interval_s,
    )
    if args.max_rounds is not None:
        cfg_kwargs["max_rounds"] = args.max_rounds
    config = CrawlConfig(**cfg_kwargs)
    store = CheckpointStore(args.store, num_buckets=args.num_buckets)
    engine = CrawlEngine(
        spark, store, config, args.pages, args.robots, num_buckets=args.num_buckets
    )
    report = engine.run(seeds=seeds or None, max_rounds=args.max_rounds)
    out = {
        "rounds": len(report.rounds),
        "fetched_ok": sum(r.fetched_ok for r in report.rounds),
        "fetch_errors": sum(r.fetch_errors for r in report.rounds),
        "new_urls": sum(r.new_urls for r in report.rounds),
        "wall_ms": sum(r.wall_ms for r in report.rounds),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
