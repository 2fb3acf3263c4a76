#!/usr/bin/env python3
"""Record analytics_pass's expected row counts and digests.

    python3 perfbench/record_expected.py

Run from the repository root, on an engine whose answers the contract
tests (tests/test_entry_contract.py) accept. Writes
perfbench/expected_analytics.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.getcwd())

from perfbench import run  # noqa: E402


def main() -> int:
    run_dir = os.path.join(run.WORK, "runs", f"record-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    run.pin_env(run_dir)
    from perfbench.analytics import EXPECTED, QUERIES, AnalyticsWorkload

    class _H:
        spark = None

    wl = AnalyticsWorkload(_H)
    try:
        _H.spark = run.start_session("record", run_dir, False, "")
        wl.setup()
        expected = {q: wl.answer(q) for q in QUERIES}
        run.stop_session(_H.spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
