"""Crawl configuration (atra/src/config/crawl.rs:38-158, budgets :236-254).

A plain dataclass serialized to JSON; broadcast to executors by the
round loop. Defaults mirror the reference defaults where they exist.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from .urlkit import NORMAL, Budget


@dataclass
class CrawlConfig:
    # budgets (config/crawl.rs:236-254): default + per-origin overrides
    default_budget: Budget = field(
        default_factory=lambda: Budget(kind=NORMAL, depth_on_website=3, distance_to_seed=1)
    )
    per_host_budget: dict[str, Budget] = field(default_factory=dict)

    # politeness (crawl/crawler/intervals.rs:66-82): robots crawl-delay
    # if present, else this, else 1000 ms
    delay_ms: int = 1000
    # how much host-serial fetch time one round represents; admissions
    # per host per round k(host) = max(1, round_budget_ms // delay(host))
    round_budget_ms: int = 10_000

    # queue hygiene (config/crawl.rs:94-96,150): 0 = never drop
    max_queue_age: int = 20

    respect_robots_txt: bool = True
    respect_nofollow: bool = True
    use_aggressive_extractors: bool = False  # media/src, form action, js

    blacklist: list[str] = field(default_factory=list)  # regex strings

    max_rounds: int = 32
    user_agent: str = "atra-spark/0.1"

    # write the order/edges audit tables (crawl-ordering parity + web
    # graph). Disable for pure-throughput runs; results/seen/frontier/
    # metrics are always written (resumability + lineage).
    audit_tables: bool = True

    # recrawl (recrawl_management): None disables
    recrawl_interval_s: int | None = None

    # seen-index maintenance: merge each bucket's hash-delta chain into
    # one file every k rounds (RocksDB compaction analog; 0 = never).
    # Between compactions the chain grows by one small file per round.
    seen_compact_every: int = 8

    # fetch-join strategy: broadcast the admitted URL list into the
    # pages scan while the frontier poll is at most this many URLs
    # (payloads never shuffle); above it fall back to a shuffled hash
    # join — at 10^8-URL rounds the broadcast itself is multi-GB.
    broadcast_fetch_max_urls: int = 10_000_000

    # robots-join strategy: broadcast the parsed robots relation while
    # it holds at most this many hosts; above it (10^7-10^8 hosts with
    # disallow arrays is a multi-GB relation) fall back to a
    # co-partitioned join on host — the downstream politeness window
    # partitions by host anyway, so the shuffled shape reuses the
    # exchange instead of shipping the relation to every executor.
    broadcast_robots_max_hosts: int = 10_000_000

    # Arrow batch size override for the EXTRACTION job only (the one
    # stage that streams full page payloads through Python); 0 (the
    # default) keeps the session-wide small batches. Measured both ways
    # at 480k pages/16 cores: each JVM<->Python batch round-trip costs
    # ~45 ms regardless of size, and 8192-row (~57 MB) batches cut an
    # isolated extraction stage 12% in a calm-DRAM window — but at
    # ROUND level they lost 20-55% in four interleaved trials, because
    # 3.5 MB batches stay cache-resident across the convert+extract
    # passes while 57 MB batches stream through DRAM (this box's
    # bandwidth anti-scales past ~8 cores and is often contended). Kept
    # as a knob because the tradeoff flips on cache-rich/calm hardware.
    extract_arrow_batch: int = 0

    # AQE inside the round loop. The round's plan shapes are statically
    # partitioned and skew-guarded by construction — host-hash bucketed
    # state, per-host admission bounded by k(host), broadcast fetch
    # join, bucket-aligned seen probe — so adaptive re-planning has
    # nothing to improve, and its per-query-stage materialization
    # barriers cost real wall time on short stages (measured at 480k
    # pages, cpuset-pinned 16 cores: round 134.3 s with AQE vs 123.1 s
    # without; the whole saving is barrier latency, zero plan changes).
    # Scoped: the engine flips spark.sql.adaptive.enabled only for the
    # duration of run_round and restores the session value after, so
    # analytics queries on the same session keep AQE (skew joins etc.).
    aqe_in_round: bool = False

    def budget_for(self, host: str) -> Budget:
        return self.per_host_budget.get(host, self.default_budget)

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "CrawlConfig":
        d = json.loads(s)
        # retired field: configs written while the engine still had a
        # second (applyInPandas) admission path carry it, and cached
        # corpora/fixtures outlive the code change. Only this key is
        # forgiven; any other unknown key still raises.
        d.pop("use_pandas_scheduler", None)
        d["default_budget"] = Budget(**d["default_budget"])
        d["per_host_budget"] = {k: Budget(**v) for k, v in d["per_host_budget"].items()}
        return cls(**d)
