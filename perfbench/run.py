#!/usr/bin/env python3
"""Runs one workload of the olivespark benchmark.

    python3 perfbench/run.py --workload ingest|scan|cdc --seed N \
        --seconds S --trace 0|1 [--size full|tiny]

Run from the repository root. The first run compiles the program and the
benchmark (see build.py); later runs reuse the build. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Scratch tables live in ``.bench_run/`` and are
removed at exit; traced runs leave their spans in ``.bench_run/trace/``.
"""

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_DIR = ".bench_run"
JVM_TIMEOUT_S = 170
HEAP = "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "scan", "cdc"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    cp = build.build()
    os.makedirs(RUN_DIR, exist_ok=True)
    # a killed earlier run may have left its tables behind
    for stale in glob.glob(os.path.join(RUN_DIR, "work-*")):
        shutil.rmtree(stale, ignore_errors=True)
    work = os.path.abspath(os.path.join(RUN_DIR, "work-%d" % os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in build.ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = [build.java_bin(), "-Xms" + HEAP, "-Xmx" + HEAP,
           "-Djava.io.tmpdir=" + tmp,
           "-Dgraft.profile=" + ("true" if a.trace else "false"),
           "-Dlog4j.configurationFile=" + os.path.abspath(
               os.path.join(os.path.dirname(__file__), "log4j2.properties")),
           ] + opens + [
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--size", a.size, "--work", work]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.stderr.write("run: JVM exceeded %d s\n" % JVM_TIMEOUT_S)
        return 3
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        sys.stderr.write("run: no result line (JVM exit %d)\n" % p.returncode)
        return p.returncode or 4
    for l in lines:
        print(l)
    return 0 if p.returncode == 0 and result["correct"] else (p.returncode or 1)


if __name__ == "__main__":
    sys.exit(main())
