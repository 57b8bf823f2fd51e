#!/usr/bin/env python3
"""CDC4 commit-cost regression gate (r15 verdict item 3).

The solo sum of the four CDC-heavy gates (q113 change-feed relay, q114
incremental view fold, q118 replica fold, q134 IVF reindex) is the
canary that caught three rounds of per-commit machinery accretion. This
makes it self-enforcing instead of verdict-enforced: run the four gates
solo via `graft.Harness solo` (min of runs 2-3; run1 carries session warmup),
sum the wall minima, FAIL (exit 1) if the sum exceeds the bar.

Honest refusal: if the 1-min loadavg at start is >= 3 the number is
weather, not signal - the check exits 2 (INCONCLUSIVE) without judging.

Box-speed normalization (r16): the same code read 11.9 s on the r16
session-1 box and 14.6-18.0 s on the session-2 box (min-of-3, loadavg
<= 1.1, older code slower in the same-day A/B - box speed, not code).
Absolute bars don't transfer across boxes, so the run now also times
the solo mode's `calibrate` pseudo-gate (a fixed spark.range -> xxhash64
-> hash-aggregate shuffle, no table I/O; ~3 s on the reference box)
and judges wall_sum * (CALIB_REF / calib): a
box that runs the calibration 20% slower is allowed a 20% slower CDC4.

Usage: python3 tools/cdc4_check.py [sfdir] [bar_seconds]
Defaults: /root/testdata/sf0.1, 16.0 s in CALIB_REF-box seconds.
Deliberately rebaselined r16 WITH the calibration: the historic 14.0 s
bar was the r13 box's wall (r13 12.44 s + the r15-accepted +8%), a box
whose calibration was never measured. On the CALIB_REF box the steady
quiet min-of-3 reads 14.6 s (three runs: 14.60/14.62/15.51; an 11.6 s
outlier right after a bench run shows warm page cache is worth ~20%).
Bar = 14.6 + ~10% headroom. Rebaseline bar and CALIB_REF together.

Prints a COVERAGE.md-pasteable line with the wall AND engine split
(fixture seconds self-reported by the gates via FixtureClock).
"""
import os
import re
import subprocess
import sys
import time

GATES = ("q113_change_feed_stream,q114_incremental_view,"
         "q118_cdc_replica,q134_ivf_reindex")
# calibrate-gate seconds on the box where the 14.0 s bar was settled
# (r16 session 2, quiet min-of-3: 3.02 s). Rebaseline CALIB_REF and
# the bar together or neither.
CALIB_REF = 3.0
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    bar = float(sys.argv[2]) if len(sys.argv) > 2 else 16.0
    load, load5 = os.getloadavg()[0], os.getloadavg()[1]
    if load >= 3.0 or load5 >= 4.0:
        # the 5-min average catches the just-finished-a-bench case: r16
        # measured a 33% CDC4 swing at loadavg1m 0.5 / loadavg5m 5.8
        # (page-cache churn + background flush), same code both runs
        print(f"INCONCLUSIVE: start loadavg 1m {load:.1f} / 5m {load5:.1f} "
              "(bars 3 / 4) - a CDC4 number measured under co-tenant load "
              "is weather; rerun when quiet")
        sys.exit(2)
    t0 = time.time()
    # TWO independent JVM runs, per-gate min across them: same-code
    # quiet-box samples on one r16 day read 14.6/15.0/15.5/17.0/18.0 s
    # (calibration stable at 3.0-3.2 throughout - the swing is
    # page-cache/IO state, not CPU), so one sample flips a coin against
    # any meaningful bar; the min of two lands 14.6-15.5 reproducibly.
    want = set(GATES.split(",")) | {"calibrate"}
    mins = {}
    for _ in range(2):
        out = subprocess.run(
            ["sbt", "-batch", f"runMain graft.Harness solo calibrate,{GATES} {sf}"],
            capture_output=True, text=True, cwd=REPO).stdout
        got = {m.group(1): (float(m.group(2)), float(m.group(3)), float(m.group(4)))
               for m in re.finditer(
                   r"(\w+) MIN: wall=([\d.]+) fixture=([\d.]+) engine=([\d.]+)", out)}
        if set(got) != want:
            print(f"ERROR: expected MIN lines for {sorted(want)}, got {sorted(got)}")
            print(out[-2000:])
            sys.exit(3)
        for k, v in got.items():
            if k not in mins or v[0] < mins[k][0]:
                mins[k] = v
    calib = mins.pop("calibrate")[0]
    wall = sum(v[0] for v in mins.values())
    fixture = sum(v[1] for v in mins.values())
    engine = sum(v[2] for v in mins.values())
    # judge in reference-box seconds: a box whose calibration runs N%
    # slower is allowed an N%-slower CDC4 (box speed cancels)
    norm = wall * (CALIB_REF / calib)
    per = " ".join(f"{k.split('_')[0]}={v[0]:.2f}" for k, v in sorted(mins.items()))
    verdict = "PASS" if norm <= bar else "FAIL"
    print(f"CDC4 {verdict}: min-over-2-JVMs (min-of-3 each) wall sum {wall:.2f} s = "
          f"{norm:.2f} s box-normalized (bar {bar:.1f} s, calib {calib:.2f} vs "
          f"ref {CALIB_REF:.2f}, engine {engine:.2f} s + fixture {fixture:.2f} s) "
          f"@ start loadavg {load:.1f} [{per}] in {time.time() - t0:.0f} s total")
    sys.exit(0 if norm <= bar else 1)


if __name__ == "__main__":
    main()
