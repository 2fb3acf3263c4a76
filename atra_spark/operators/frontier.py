"""Frontier admission filters — the reference's UrlChecker pipeline
(atra/src/crawl/crawler.rs:653-704) as ordered column predicates.

Filter order is deliberate and mirrors the reference's cheap-first
ordering (SURVEY.md §4 "Predicate ordering"): age/state (columnar) ->
blacklist regex -> budget (columnar) -> robots (join + vectorized
prefix check). Catalyst will not reorder across the UDF boundary, so
the cheap columnar predicates run first and prune the scan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, LongType, StringType, StructField, StructType

from ..config import CrawlConfig
from ..schemas import KIND_DISCOVERED


def filter_age(df: DataFrame, max_queue_age: int) -> DataFrame:
    """Drop stale queue elements (polling.rs:101-105; 0 = never)."""
    if max_queue_age <= 0:
        return df
    return df.filter(F.col("age") <= F.lit(max_queue_age))


def filter_state_indexed(
    frontier: DataFrame, seen_index, allow_recrawl: bool = False
) -> DataFrame:
    """State-based drop on dequeue (polling.rs:180-204), served by the
    bucketed ``SeenIndex``: only URLs whose latest seen-state is
    Discovered proceed; everything else is in-flight, done, or failed
    elsewhere. Each task pays a per-bucket point lookup only for the
    buckets the frontier touches (the reference's own dequeue state
    check — a RocksDB point read, never a scan of the seen table). The
    seen-table join it must equal lives in the tests as the reference.

    With ``allow_recrawl`` (recrawl_interval configured),
    ProcessedAndStored URLs pass too — they are recrawl re-enqueues
    (crawler.rs:264-300) — tagged ``is_recrawl`` so the cooldown filter
    can treat them separately."""
    from ..schemas import KIND_PROCESSED_AND_STORED

    if not allow_recrawl:
        return seen_index.filter_by_state(frontier, (KIND_DISCOVERED,))
    out = seen_index.filter_by_state(
        frontier,
        (KIND_DISCOVERED, KIND_PROCESSED_AND_STORED),
        with_kind=True,
    )
    return out.withColumn(
        "is_recrawl", F.col("kind") == KIND_PROCESSED_AND_STORED
    ).drop("kind")


def filter_recrawl_cooldown(
    df: DataFrame,
    host_state: DataFrame | None,
    interval_s: int,
) -> tuple[DataFrame, DataFrame]:
    """Recrawl-cooldown admission check (crawler.rs:264-300 +
    recrawl_management/mod.rs:27-70): a recrawl re-enqueue whose host
    was accessed within ``interval_s`` is NOT admitted this round — it
    goes back on the queue with age reset to 0 (the reference
    re-enqueues ``UrlQueueElement::new(is_seed, 0, ...)``).

    Returns (eligible, deferred_by_cooldown); fresh URLs
    (``is_recrawl`` false) always pass. host_state shares the host-hash
    bucketing, so the join is co-partitioned.
    """
    if host_state is None:
        return df.drop("is_recrawl"), None
    hs = host_state.select("host", "last_access")
    joined = df.join(hs, on="host", how="left")
    on_cooldown = (
        F.col("is_recrawl")
        & F.col("last_access").isNotNull()
        & (
            F.col("last_access")
            >= F.current_timestamp() - F.expr(f"INTERVAL {int(interval_s)} SECONDS")
        )
    )
    eligible = joined.filter(~on_cooldown).drop("last_access", "is_recrawl")
    deferred = joined.filter(on_cooldown).select(
        "url",
        "host",
        "is_seed",
        F.lit(0).alias("age"),
        F.lit(False).alias("host_was_in_use"),
        "depth_on_website",
        "distance_to_seed",
        "total_distance_to_seed",
        "enqueue_round",
    )
    return eligible, deferred


def filter_blacklist(df: DataFrame, patterns: list[str]) -> DataFrame:
    """RegexSet drop (blacklist/manager_impl.rs:43-120) — JVM-side rlike,
    no Python in the hot path."""
    out = df
    for p in patterns:
        out = out.filter(~F.col("url").rlike(p))
    return out


def filter_budget(df: DataFrame, config: CrawlConfig) -> DataFrame:
    """Budget predicate (config/crawl.rs:445-470) as pure column logic.

    Per-host overrides (CrawlBudget.get_budget_for, :244-253) become a
    broadcast CASE over the override hosts. depth_on_website /
    total_distance bounds of 0 mean unlimited; the Normal arm's
    distance_to_seed is ALWAYS enforced (crawl.rs:455-462 — 0 means
    seed-distance-only, not unlimited).
    """
    def pred(kind: str, dow: int, dts: int, total: int):
        c_dow, c_dts, c_tot = (
            F.col("depth_on_website"),
            F.col("distance_to_seed"),
            F.col("total_distance_to_seed"),
        )
        if kind == "single_page":
            return (c_dow == 0) & (c_dts == 0) & (c_tot == 0)
        if kind == "absolute":
            return F.lit(total == 0) | (c_tot < F.lit(total))
        on_site = F.lit(dow == 0) | (c_dow < F.lit(dow))
        if kind == "seed_only":
            return (c_dts == 0) & on_site
        # normal
        return on_site & (c_dts <= F.lit(dts))

    b = config.default_budget
    expr = pred(b.kind, b.depth_on_website, b.distance_to_seed, b.total_distance)
    for host, hb in sorted(config.per_host_budget.items()):
        expr = F.when(
            F.col("host") == F.lit(host),
            pred(hb.kind, hb.depth_on_website, hb.distance_to_seed, hb.total_distance),
        ).otherwise(expr)
    return df.filter(expr)


# --------------------------------------------------------------------------
# robots: parse once per host (vectorized), broadcast-join, prefix check
# --------------------------------------------------------------------------
ROBOTS_PARSED_SCHEMA = StructType(
    [
        StructField("crawl_delay_ms", LongType(), True),
        StructField("disallow", ArrayType(StringType()), False),
    ]
)


@F.pandas_udf(ROBOTS_PARSED_SCHEMA)
def parse_robots_udf(robots_txt: pd.Series, status: pd.Series) -> pd.DataFrame:
    """robots.txt bytes -> (crawl_delay_ms, disallow prefixes) for UA *.

    4xx/5xx or absent -> everything allowed, no delay
    (robots/manager_impl.rs:120-125).
    """
    delays, disallows = [], []
    for raw, st in zip(robots_txt, status):
        if raw is None or (st is not None and st >= 400):
            delays.append(None)
            disallows.append([])
            continue
        text = bytes(raw).decode("utf-8", errors="replace")
        delay = None
        prefixes = []
        for line in text.splitlines():
            line = line.strip()
            low = line.lower()
            if low.startswith("crawl-delay:"):
                try:
                    delay = int(float(line.split(":", 1)[1].strip()) * 1000)
                except ValueError:
                    pass
            elif low.startswith("disallow:"):
                p = line.split(":", 1)[1].strip()
                if p:
                    prefixes.append(p)
        delays.append(delay)
        disallows.append(prefixes)
    return pd.DataFrame({"crawl_delay_ms": pd.array(delays, dtype="Int64"), "disallow": disallows})


def parse_robots(robots: DataFrame) -> DataFrame:
    """robots table -> (host, crawl_delay_ms, disallow) — computed once
    per crawl, cached, broadcast into the admission join."""
    parsed = robots.withColumn("parsed", parse_robots_udf(F.col("robots_txt"), F.col("status")))
    return parsed.select(
        "host",
        F.col("parsed.crawl_delay_ms").alias("crawl_delay_ms"),
        F.col("parsed.disallow").alias("disallow"),
    )


def filter_robots(
    df: DataFrame,
    robots_parsed: DataFrame,
    broadcast: bool = True,
    keep_delay: bool = False,
) -> DataFrame:
    """Admission robots check (crawler.rs:664-667): join the per-host
    parsed rules, JVM-side higher-order prefix test (no Python in the
    admission hot path). Hosts with no robots row are fully allowed
    (NoRobots).

    ``broadcast=False`` is the scale fallback (the engine flips it when
    the robots relation exceeds ``broadcast_robots_max_hosts``): a
    co-partitioned join on host instead of shipping a multi-GB parsed
    relation to every executor — same threshold discipline as the
    fetch join (plans/crawl.py broadcast_fetch_max_urls).

    ``keep_delay=True`` carries ``crawl_delay_ms`` through on the same
    join, so the politeness scheduler downstream skips its own robots
    join — one robots join (and one broadcast build) per round instead
    of two (round-6 fixed-cost diet; ``_with_delay`` detects the
    pre-joined column)."""
    from ..functions.jvm_url import robots_allowed_col

    cols = ["host", "disallow"] + (["crawl_delay_ms"] if keep_delay else [])
    rel = robots_parsed.select(*cols)
    if broadcast:
        rel = F.broadcast(rel)
    joined = df.join(rel, on="host", how="left")
    return joined.filter(
        robots_allowed_col(F.col("url"), F.col("disallow"))
    ).drop("disallow")
