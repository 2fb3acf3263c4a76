"""Crawl inputs made from the run's seed, cached per seed on disk.

Generation is not timed: a later run with the same seed reuses the
cache, and ``setup_s`` never includes it.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import pyarrow.parquet as pq

# one corpus shape for both crawl workloads: 94 ordinary hosts plus
# the mega host (40 % of pages) and the blacklisted host = 96 hosts,
# ~7 KB pages with 30-90 links each
N_HOSTS = 94
BODY_PARAGRAPHS = 8
LINKS_RANGE = (30, 90)
CACHE_VERSION = 1


@dataclass
class Corpus:
    pages_path: str
    robots_path: str
    page_urls: list[str]
    golden_links: dict[str, list[tuple[str, str, str]]]
    robots: dict[str, tuple[bytes | None, int]]
    config_json: str


def _generate(out_dir: str, n_pages: int, seed: int) -> None:
    from atra_spark.sources.fixtures import generate_fixtures, write_fixtures

    fx = generate_fixtures(
        n_pages=n_pages,
        n_hosts=N_HOSTS,
        seed=seed,
        body_paragraphs=BODY_PARAGRAPHS,
        links_range=LINKS_RANGE,
    )
    write_fixtures(fx, out_dir)


def load_corpus(cache_root: str, n_pages: int, seed: int) -> Corpus:
    d = os.path.join(cache_root, f"v{CACHE_VERSION}-n{n_pages}-s{seed}")
    if not os.path.exists(os.path.join(d, "config.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(tmp, n_pages, seed)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)

    pages_path = os.path.join(d, "pages.parquet")
    robots_path = os.path.join(d, "robots.parquet")
    page_urls = pq.read_table(pages_path, columns=["url"]).column("url").to_pylist()
    golden: dict[str, list[tuple[str, str, str]]] = {u: [] for u in page_urls}
    gl = pq.read_table(os.path.join(d, "golden_links.parquet")).to_pydict()
    for src, dst, kind, method in zip(gl["src"], gl["dst"], gl["kind"], gl["method"]):
        golden[src].append((dst, kind, method))
    rb = pq.read_table(robots_path).to_pydict()
    robots = {h: (t, s) for h, t, s in zip(rb["host"], rb["robots_txt"], rb["status"])}
    with open(os.path.join(d, "config.json")) as f:
        config_json = f.read()
    return Corpus(pages_path, robots_path, page_urls, golden, robots, config_json)


def crawl_config(corpus: Corpus, **overrides):
    """The fixture's config (mega-host budget, blacklist, robots,
    nofollow, audit tables, compaction every 8 rounds) with the
    workload's politeness and round settings."""
    from atra_spark.config import CrawlConfig

    cfg = CrawlConfig.from_json(corpus.config_json)
    for k, v in overrides.items():
        setattr(cfg, k, v)
    return cfg
