"""Per-host politeness admission: the engine's window function plus its
grouped applyInPandas reference.

The reference serializes fetches per origin with an exclusive host
guard + a per-origin tokio interval (atra/src/url/guard/mod.rs:63-102,
atra/src/crawl/crawler/intervals.rs:25-95). In Spark the *group is the
critical section*: ``groupBy(host).applyInPandas`` gives each host to
exactly one task, which admits the top-k URLs of the round under the
host's crawl-delay budget and stamps deterministic scheduled fetch
offsets. k(host) = max(1, round_budget_ms // delay(host)) where
delay = robots crawl-delay, else config delay, else 1000 ms
(intervals.rs:66-82).

Admission order within a host (the deterministic ordering parity
definition of SURVEY.md §7): is_seed desc, enqueue_round asc, url asc
(UrlWithDepth total order tie-break, url_with_depth.rs:194-264).

The crawl loop admits through the window-function variant
(`admit_window`), which computes the same admission JVM-side in
whole-stage codegen. ``schedule_hosts`` is not an engine path: it is
the readable per-host reference that tests hold `admit_window` to
(admitted, admission_index and scheduled_offset_ms must agree).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..schemas import FRONTIER_SCHEMA

_SCHED_EXTRA = [
    StructField("admitted", BooleanType(), False),
    StructField("admission_index", IntegerType(), False),  # -1 when deferred
    StructField("scheduled_offset_ms", LongType(), True),
    StructField("crawl_delay_ms", LongType(), False),
]
SCHEDULED_SCHEMA = StructType(FRONTIER_SCHEMA.fields + _SCHED_EXTRA)


def _delay_col(default_delay_ms: int):
    return F.coalesce(F.col("crawl_delay_ms"), F.lit(default_delay_ms))


def _with_delay(
    frontier: DataFrame,
    robots_parsed: DataFrame | None,
    default_delay_ms: int,
    broadcast: bool = True,
) -> DataFrame:
    if "crawl_delay_ms" in frontier.columns:
        # pre-joined by filter_robots(keep_delay=True): reuse the
        # column instead of paying a second robots join per round
        return frontier.withColumn(
            "crawl_delay_ms", _delay_col(default_delay_ms).cast("long")
        )
    if robots_parsed is None:
        return frontier.withColumn("crawl_delay_ms", F.lit(default_delay_ms).cast("long"))
    rel = robots_parsed.select("host", "crawl_delay_ms")
    if broadcast:
        # small-relation fast path: ship the per-host delays everywhere
        rel = F.broadcast(rel)
    # else: co-partitioned join on host — the window/groupBy below
    # partitions by host anyway, so the shuffled join shape reuses that
    # exchange instead of broadcasting a 10^7-host relation
    j = frontier.join(rel, on="host", how="left")
    return j.withColumn("crawl_delay_ms", _delay_col(default_delay_ms).cast("long"))


def schedule_hosts(
    frontier: DataFrame,
    robots_parsed: DataFrame | None,
    default_delay_ms: int = 1000,
    round_budget_ms: int = 10_000,
    broadcast_robots: bool = True,
) -> DataFrame:
    """The applyInPandas reference scheduler: one pandas group per host.

    Returns every input row tagged admitted/deferred; admitted rows get
    admission_index (0-based within host) and a scheduled fetch offset
    = admission_index * delay (the interval tick the reference waits on
    at crawler.rs:417).
    """
    with_delay = _with_delay(frontier, robots_parsed, default_delay_ms, broadcast_robots)
    cols = [f.name for f in SCHEDULED_SCHEMA.fields]

    def _sched(pdf: pd.DataFrame) -> pd.DataFrame:
        delay = int(pdf["crawl_delay_ms"].iloc[0])
        k = max(1, round_budget_ms // max(1, delay))
        pdf = pdf.sort_values(
            ["is_seed", "enqueue_round", "url"], ascending=[False, True, True]
        ).reset_index(drop=True)
        n = len(pdf)
        idx = pd.Series(range(n))
        pdf["admitted"] = idx < k
        pdf["admission_index"] = idx.where(idx < k, -1).astype("int32")
        pdf["scheduled_offset_ms"] = (idx * delay).where(idx < k).astype("Int64")
        return pdf[cols]

    return with_delay.groupBy("host").applyInPandas(_sched, SCHEDULED_SCHEMA)


def admit_window(
    frontier: DataFrame,
    robots_parsed: DataFrame | None,
    default_delay_ms: int = 1000,
    round_budget_ms: int = 10_000,
    broadcast_robots: bool = True,
) -> DataFrame:
    """JVM-side equivalent of ``schedule_hosts`` (SURVEY.md §2.6
    "politeness budget window function"): row_number over
    (host | is_seed desc, enqueue_round, url) <= k(host).

    Stays entirely in whole-stage codegen; the engine's only admission
    path. Deferred rows carry admission_index -1.
    """
    with_delay = _with_delay(frontier, robots_parsed, default_delay_ms, broadcast_robots)
    k = F.greatest(
        F.lit(1), (F.lit(round_budget_ms) / F.greatest(F.lit(1), F.col("crawl_delay_ms"))).cast("long")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("is_seed").desc(), F.col("enqueue_round").asc(), F.col("url").asc()
    )
    rn = F.row_number().over(w) - 1
    return (
        with_delay.withColumn("_rn", rn)
        .withColumn("admitted", F.col("_rn") < k)
        .withColumn(
            "admission_index",
            F.when(F.col("admitted"), F.col("_rn")).otherwise(F.lit(-1)).cast("int"),
        )
        .withColumn(
            "scheduled_offset_ms",
            F.when(F.col("admitted"), F.col("_rn") * F.col("crawl_delay_ms")).cast("long"),
        )
        .drop("_rn")
    )
