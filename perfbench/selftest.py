#!/usr/bin/env python3
"""Self-test of the traced pass: a planted sleep must show up where it was
planted and nowhere else.

    python3 perfbench/selftest.py

Runs PAIRS alternating pairs of traced etl_pages passes on the same
seeded inputs, the second of each pair with a PLANT_MS sleep inside the
`etl.guard` span. Between the medians of the plain and the planted
passes, the planted layer's self time and the traced wall time must both
grow by about the planted amount; every other layer's self time must not.
Medians, because one cold pass differs from the next by a second or two.
Exits 0 when all hold.
"""
import os
import shutil
import statistics
import sys
import time

import gen
import run

SEED = 1
PLANTED = "etl.guard"
PLANT_MS = 6000
PAIRS = 3
LAYERS = ["etl.extract.s", "etl.guard.s", "etl.sink.s", "etl.recount.s", "trace.uncovered_s"]


def main():
    os.environ["SPARK_GRAFT_CPUS"] = str(run.cpus())
    run.build()
    with open(run.LAUNCH) as f:
        launch = [ln for ln in f.read().splitlines() if ln]
    work = os.path.join(run.BUILD, "work", f"selftest-{os.getpid()}")
    inputs = os.path.join(work, "input")
    try:
        expected = gen.etl_pages(SEED, os.path.join(inputs, "pages"), run.PAGES, run.PAGE_SIZE)
        gen.etl_config(os.path.join(run.ROOT, "fixtures", "config.yaml"),
                       os.path.join(inputs, "config.json"))
        runner = run.Runner("etl_pages", inputs, os.path.join(work, "jvm"), launch,
                            time.monotonic() + 200 * PAIRS)
        passes = {None: [], PLANTED: []}
        for plant in [None, PLANTED] * PAIRS:
            res, out = runner.jvm("traced", plant and f"{PLANTED}:{PLANT_MS}")
            if res is None:
                run.fail("traced pass failed")
            why = run.check_etl(expected, os.path.join(runner.work, f"jvm{runner.n}"), out)
            if why:
                run.fail(f"traced pass output wrong: {why}")
            passes[plant].append(res["layers"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    plant_s = PLANT_MS / 1000
    base, planted = ({k: statistics.median(p[k] for p in passes[plant]) for k in passes[plant][0]}
                     for plant in (None, PLANTED))
    checks = [("trace.wall_s", planted["trace.wall_s"] - base["trace.wall_s"], plant_s, 0.5)]
    for k in LAYERS:
        want = plant_s if k == f"{PLANTED}.s" else 0.0
        checks.append((k, planted[k] - base[k], want, 0.15 if want else 0.4))
    ok = True
    for name, delta, want, tol in checks:
        good = abs(delta - want) <= tol * plant_s
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: moved {delta:+.3f} s, "
              f"expected {want:+.3f} s +- {tol * plant_s:.3f} s")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
