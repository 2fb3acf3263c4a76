"""The analytics_pass workload: one pass of contract queries, noop sink.

A timed unit is one pass over ``QUERIES`` in order, each written to
Spark's ``noop`` sink. Units repeat until the run's seconds are used
up. Outputs are checked after the timed region: each query's row count
and an order-independent digest of its rows must equal the values in
``expected_analytics.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

from . import procstat, tracing
from .crawl import session_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_analytics.json")

# twelve of the 25 bench.py headline queries: plain Spark reads and
# joins, the crawl-state operators, the text operators, and the two
# fan-out targets (bigram_lm_score, dsir_weights)
QUERIES = (
    "q1_pricing_summary",
    "q3_join_topk",
    "frontier_antijoin_dedup",
    "politeness_topk_admission",
    "seen_merge_latest_state",
    "dedup_exact_hash",
    "token_count",
    "repetition_metrics",
    "bigram_lm_score",
    "dsir_weights",
    "bm25_topk",
    "event_sessions",
)
WARMUP_PASSES = 1


def _canon(v):
    if isinstance(v, float):
        return float(f"{v:.6g}")
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v if isinstance(v, (int, str, bool, type(None))) else str(v)


def digest(rows) -> tuple[int, str]:
    """Row count and an order-independent digest; floats are compared
    to six significant digits, so summation order does not show."""
    lines = sorted(json.dumps(_canon(tuple(r)), sort_keys=True) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


class AnalyticsWorkload:
    def __init__(self, h) -> None:
        self.h = h

    def prepare_inputs(self) -> None:
        pass

    def setup(self) -> None:
        import __spark_entry__

        self.queries = {q: __spark_entry__.queries()[q] for q in QUERIES}

    def _run_pass(self, tracer=None) -> dict[str, float]:
        per_q = {}
        for q in QUERIES:
            t0 = time.monotonic()
            with tracing.maybe_span(tracer, f"analytics.{q}"):
                self._write(q)
            per_q[q] = time.monotonic() - t0
        return per_q

    def _write(self, q: str) -> None:
        self.queries[q](self.h.spark, DATA_DIR).write.format("noop").mode("overwrite").save()

    def warm_up(self) -> None:
        for _ in range(WARMUP_PASSES):
            self._run_pass()

    def run_unit(self, i: int, tracer=None) -> dict:
        a = self.h.sampler.mark()
        with tracing.maybe_span(tracer, "analytics.pass"):
            per_q = self._run_pass(tracer)
        d = procstat.delta(a, self.h.sampler.mark())
        return {
            "init_s": 0.0,
            "wall_s": d["wall_s"],
            "cpu_s": d["cpu_s"],
            "steal_s": d["steal_s"],
            "proc": d,
            "per_query_s": per_q,
        }

    def summarize(self, units: list[dict]) -> dict:
        return {
            "wall_s": statistics.median(u["wall_s"] for u in units),
            "items_per_s": statistics.median(len(QUERIES) / u["wall_s"] for u in units),
            "step_p50_s": statistics.median(
                statistics.median(u["per_query_s"].values()) for u in units
            ),
            "cpu_s": statistics.median(u["cpu_s"] for u in units),
            "init_s": 0.0,
        }

    def answer(self, q: str) -> list:
        """[row count, digest] of one query's collected rows."""
        return list(digest(self.queries[q](self.h.spark, DATA_DIR).collect()))

    def check(self, units: list[dict]) -> tuple[int, list[str]]:
        """Every query that raises or mismatches counts as one failure
        (against the queries of the checked pass)."""
        with open(EXPECTED) as f:
            expected = json.load(f)
        failed, errors = 0, []
        for q in QUERIES:
            try:
                got = self.answer(q)
            except Exception as e:  # a query that raises is a failed operation
                got = [None, repr(e)[:200]]
            if got != expected.get(q):
                failed += 1
                errors.append(f"{q}: got {got[0]} rows / {got[1][:12]}, expected {expected.get(q)}")
        return failed, errors

    def counts(self, units: list[dict]) -> dict:
        return {}

    def per_layer(self, unit: dict, tracer: tracing.Tracer, rollup: dict) -> dict:
        m = {f"analytics.{q}_s": s for q, s in unit["per_query_s"].items()}
        m.update(session_metrics(rollup.values(), unit["proc"]))
        return m
