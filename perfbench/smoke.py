#!/usr/bin/env python3
"""Smoke check of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

Runs every workload untraced and traced for two seconds. Each run must pass
its correctness checks, and each must print every metric that
BENCHMARK.json names, with that metric's unit. A traced run must also
leave its trace file. Exits non-zero on the first failure.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        for trace in (0, 1):
            want = spec["per_layer" if trace else "end_to_end"]
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 w["name"], "--seed", "1", "--seconds", "2", "--trace",
                 str(trace), "--size", "tiny"],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            problems = []
            try:
                res = json.loads(r.stdout.strip().splitlines()[-1])
            except (ValueError, IndexError):
                res = None
            if r.returncode != 0 or res is None:
                problems.append("exit %d, stderr tail: %s"
                                % (r.returncode, r.stderr[-1500:]))
            else:
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append("correctness: %s" % {
                        k: res[k] for k in ("correct", "attempted", "failed")})
                got = res["metrics"]
                for m in want:
                    v = got.get(m["name"])
                    if v is None or v.get("unit") != m["unit"] or \
                            not isinstance(v.get("value"), (int, float)):
                        problems.append("metric %s: %r" % (m["name"], v))
                extra = set(got) - {m["name"] for m in want}
                if extra:
                    problems.append("unlisted metrics: %s" % sorted(extra))
                if trace and not os.path.isfile(os.path.join(
                        ".bench_run", "trace", "%s-seed1.json" % w["name"])):
                    problems.append("no trace file")
            print("%-7s trace=%d %s" % (w["name"], trace,
                                        "ok" if not problems else "FAIL"))
            for p in problems:
                print("    " + p)
            ok = ok and not problems
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
