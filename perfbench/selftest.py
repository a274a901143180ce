#!/usr/bin/env python3
"""Harness self-test: one short sql_adhoc run in which the answer of call 4
(the first call of q_agg_rollup, a query with an oracle) is corrupted after
the call and before the oracle check. The run must report that call as failed, count it in `failed` and
failed_frac, and carry its latency as +inf (1e9 in JSON).

    python3 perfbench/selftest.py
"""
import glob
import io
import json
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    buf = io.StringIO()
    with redirect_stdout(buf):
        run.main(["--workload", "sql_adhoc", "--seed", "7", "--seconds", "5", "--trace", "0",
                  "--inject-wrong", "4"])
    result = json.loads(buf.getvalue().strip().splitlines()[-1])
    art = json.load(open(os.path.join(run.WORK, "artifacts", "sql_adhoc-s7-t0.json")))
    wrong = [c for c in art["calls"] if c["call"] == 4][0]
    checks = {
        "result is not correct": result["correct"] is False,
        "exactly the injected call failed": [f["call"] for f in art["failed_calls"]] == [4],
        "failed count": result["failed"] == 1,
        "failed_frac": art["failed_frac"] == 1 / result["attempted"],
        "oracle names the wrong answer": "rows differ" in (wrong["why"] or ""),
    }
    for name, ok in checks.items():
        print(f"{'PASS' if ok else 'FAIL'} {name}")
    # the self-test's artifact must not stand in for a real run
    for f in glob.glob(os.path.join(run.WORK, "artifacts", "sql_adhoc-s7-t0.json")):
        os.remove(f)
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
