"""Self-test of the benchmark's failure accounting.

Usage (from the repository root): python3 perfbench/test_failures.py

Runs the `selftest` workload: one declared query that passes, one query
that always throws and one whose result differs from its oracle. Both
bad queries must be reported failed with their reason, the run must be
reported incorrect, and their times must enter no metric.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "selftest", "--seed", "7", "--seconds", "1", "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, check=True)
    result = json.loads(r.stdout.strip().splitlines()[-1])
    record_path = r.stderr.strip().splitlines()[-1].split("record: ", 1)[1]
    with open(record_path) as f:
        record = json.load(f)

    timed = [e for e in record["executions"] if e["pass"] > 0]
    status = {}
    for e in timed:
        status.setdefault(e["name"], set()).add(e["status"])
    assert status["q_join_3_multiway"] == {"ok"}, status
    assert status["selftest_wrong"] == {"wrong_result"}, status
    (thrown,) = status["selftest_throws"]
    assert thrown not in ("ok", "wrong_result"), thrown  # an exception class name
    passes = len(timed) // 3
    assert result["attempted"] == 3 * passes and result["failed"] == 2 * passes, result
    assert result["correct"] is False, result
    ok_times = [e["build_s"] + e["action_s"] for e in timed if e["status"] == "ok"]
    wall = result["metrics"]["wall_s"]["value"]
    p50 = result["metrics"]["query_p50_s"]["value"]
    assert abs(wall - statistics.mean(ok_times)) < 1e-9, (wall, ok_times)
    assert abs(p50 - statistics.median(ok_times)) < 1e-9, (p50, ok_times)
    print(f"ok: {thrown} and wrong_result reported failed in {passes} passes; "
          f"wall_s and query_p50_s count only the passing query")


if __name__ == "__main__":
    main()
