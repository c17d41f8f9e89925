#!/usr/bin/env python3
"""The repo benchmark: three batch workloads, end-to-end and per-layer.

    python3 perfbench/run.py --workload <etl_pages|corpus_scan|join_iterate>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source into .bench_build/ (the harness is its own sbt
build under perfbench/); later runs reuse that build while the sources
are unchanged. Each run writes its seeded inputs and the program's
outputs under .bench_build/work/ and removes them before it exits.

A pass is one fresh JVM: set-up (session ready, inputs resolved), then the
workload once, cold, the way a batch user pays for it. With --trace 0
the run makes passes until --seconds have elapsed (at least one) and
reports the median of each end-to-end metric over them. With --trace 1
it makes one pass with spans off and one with spans on, over the same
code, and reports the per-layer metrics of the traced one. Every pass's
outputs are checked; a wrong or failed operation is counted in `failed`.
The last stdout line is the result.
See perfbench/README.md for the workloads and the layer table.
"""
import argparse
import csv
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
RUN_LIMIT_S = 170  # a run (after any build) must end within 180 s
WORKLOADS = ("etl_pages", "corpus_scan", "join_iterate")
# etl_pages: a nextPageToken chain of PAGES pages of PAGE_SIZE studies.
PAGES, PAGE_SIZE = 50, 100
# corpus_scan / join_iterate: TPC-H-ish tables at this scale factor, and
# the text and vector tables at these sizes.
TABLE_SIZES = dict(sf=0.01, n_docs=500, n_vecs=500)
# A fixed heap and young generation: peak RSS then tracks what the pass
# allocates, not the collector's sizing decisions.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData"]


def metric_units(kind):
    """(name, unit) of every `kind` metric, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    """nproc, or SPARK_GRAFT_CPUS when it is a whole number within it."""
    nproc = len(os.sched_getaffinity(0))
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return nproc
    if not raw.strip().isdigit() or not 1 <= int(raw) <= nproc:
        fail(f"SPARK_GRAFT_CPUS={raw!r} must be a whole number from 1 to nproc ({nproc})")
    return int(raw)


def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    return sorted(f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True))


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile the program and the harness unless the sources are as they
    were at the last build here. sbt's own state stays in .bench_build."""
    stamp = digest(source_files())
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    sbt_dir = os.path.join(BUILD, "sbt")
    os.makedirs(f"{sbt_dir}/tmp", exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={sbt_dir}/global", f"-Dsbt.boot.directory={sbt_dir}/boot",
            f"-Dsbt.ivy.home={sbt_dir}/ivy", f"-Djava.io.tmpdir={sbt_dir}/tmp",
            f"-Djna.tmpdir={sbt_dir}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData", PERFBENCH_LAUNCH=LAUNCH)
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          cwd=os.path.join(ROOT, "perfbench"), env=env,
                          stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not os.path.exists(LAUNCH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(stamp)


def cpu_ticks():
    """The host's CPU time counters from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def machine(launch, n_cpus):
    """What the figures were measured on; printed with every result."""
    cp = launch[launch.index("-cp") + 1].split(os.pathsep)
    spark = next((os.path.basename(j)[len("spark-core_2.13-"):-4] for j in cp
                  if os.path.basename(j).startswith("spark-core_")), "?")
    classes = sorted(glob.glob(os.path.join(ROOT, "target/scala-*/classes/**/*.class"),
                               recursive=True))
    jdk = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                         capture_output=True, text=True).stderr
    with open("/proc/meminfo") as f:
        mem = f.readline().split()[1]
    cpu_model = next((ln.split(":", 1)[1].strip() for ln in open("/proc/cpuinfo")
                      if ln.startswith("model name")), platform.machine())
    return {"nproc": len(os.sched_getaffinity(0)), "spark_graft_cpus": n_cpus,
            "jvm_flags": JVM_FLAGS, "jdk": jdk.splitlines()[0] if jdk else "?", "spark": spark,
            "host": hashlib.sha256(f"{platform.node()}|{cpu_model}|{mem}".encode())
            .hexdigest()[:12], "cpu_model": cpu_model, "mem_kb": int(mem),
            "graft_classes": digest(classes)}


class Runner:
    def __init__(self, workload, inputs, work, launch, deadline):
        self.workload, self.inputs, self.work = workload, inputs, work
        self.launch, self.deadline = launch, deadline
        self.n = 0

    def jvm(self, mode, plant=None):
        """One harness JVM; returns (result dict, its stdout)."""
        self.n += 1
        work = os.path.join(self.work, f"jvm{self.n}")
        os.makedirs(os.path.join(work, "tmp"))
        result = os.path.join(work, "result.json")
        cmd = (["java", *JVM_FLAGS, "-Dgraft.pool.rebuild=1", f"-Djava.io.tmpdir={work}/tmp"]
               + ([f"-Dperfbench.plant={plant}"] if plant else [])
               + self.launch + ["perfbench.Harness", mode, self.workload, self.inputs,
                                work, result, str(time.time_ns())])
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, err = proc.communicate(timeout=max(1, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            fail(f"{mode} JVM overran the run's time limit")
        if proc.returncode != 0 or not os.path.exists(result):
            sys.stderr.write(err[-4000:])
            return None, out
        with open(result) as f:
            return json.load(f), out


# ------------------------------------------------------------------ checks

def check_etl(expected, work, stdout):
    """CSV header, rows (in order) and labels, plus Main's counters, must
    equal what the generator planted."""
    parts = glob.glob(os.path.join(work, "csv", "part-*.csv"))
    if len(parts) != 1:
        return f"expected one CSV part file, found {len(parts)}"
    with open(parts[0], newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f))
    if not rows or rows[0] != expected["columns"]:
        return f"header {rows[:1]} != {expected['columns']}"
    if rows[1:] != expected["rows"]:
        bad = next((i for i, (a, b) in enumerate(zip(rows[1:], expected["rows"])) if a != b),
                   min(len(rows) - 1, len(expected["rows"])))
        return f"{len(rows) - 1} rows vs {len(expected['rows'])} expected; first diff at row {bad}"
    want = f"rows={expected['processed']} processed={expected['processed']} " \
           f"bypassed={expected['bypassed']}"
    if want not in stdout.splitlines():
        return f"counters: wanted {want!r}"
    return None


def check_queries(tables, work, res, deadline):
    """Each line's dump against the DuckDB oracle on the run's own tables,
    by tools/check_oracle.py's exact (arrow) and repr-based rules; every
    FAIL line it prints is one failed operation."""
    bad = dict(res.get("failures", {}))
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                           tables, os.path.join(work, "results")],
                          capture_output=True, text=True, stdin=subprocess.DEVNULL,
                          timeout=max(1, deadline - time.monotonic()))
    for ln in proc.stdout.splitlines():
        if ln.startswith("FAIL "):
            name, _, why = ln[len("FAIL "):].partition(": ")
            bad.setdefault(name, why)
    if proc.returncode != 0 and not bad:
        bad["oracle"] = f"check_oracle.py exited {proc.returncode}: {proc.stderr[-500:]}"
    return bad


# -------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    for need in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft",
                 "fixtures/config.yaml", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from the root of a full checkout")
    n_cpus = cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cpus)
    build()
    with open(LAUNCH) as f:
        launch = [ln for ln in f.read().splitlines() if ln]

    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    try:
        if a.workload == "etl_pages":
            expected = gen.etl_pages(a.seed, os.path.join(inputs, "pages"), PAGES, PAGE_SIZE)
            gen.etl_config(os.path.join(ROOT, "fixtures", "config.yaml"),
                           os.path.join(inputs, "config.json"))
        else:
            gen.tables(a.seed, os.path.join(inputs, "tables"), **TABLE_SIZES)
        runner = Runner(a.workload, inputs, os.path.join(work, "jvm"), launch, deadline)
        ticks0 = cpu_ticks()

        passes, failed, attempted = [], {}, 0

        def run_pass(mode):
            nonlocal attempted
            res, out = runner.jvm(mode)
            attempted += res["attempted"] if res else 1
            jwork = os.path.join(runner.work, f"jvm{runner.n}")
            if res is None:
                failed[f"pass{runner.n}"] = "JVM failed"
                return None
            if a.workload == "etl_pages":
                why = check_etl(expected, jwork, out)
                bad = {"pipeline": why} if why else {}
            else:
                bad = check_queries(os.path.join(inputs, "tables"), jwork, res, deadline)
            failed.update({f"pass{runner.n}:{k}": v for k, v in bad.items()})
            shutil.rmtree(jwork, ignore_errors=True)
            return res

        if a.trace == 0:
            t0 = time.monotonic()
            while not passes or time.monotonic() - t0 < a.seconds:
                res = run_pass("pass")
                if res is None:
                    break
                passes.append(res)
            units = dict(metric_units("end_to_end"))
            metrics = {k: statistics.median(p[k] for p in passes) for k in units}
        else:
            base = run_pass("untraced")
            traced = run_pass("traced")
            passes = [p for p in (base, traced) if p]
            metrics = {}
            if base and traced:
                metrics = dict(traced["layers"])
                metrics["trace.overhead_frac"] = traced["wall_s"] / base["wall_s"] - 1
                for name, detail in traced.get("lines", {}).items():
                    print(json.dumps({"line": name, **detail}))
            units = dict(metric_units("per_layer"))

        inputs_summary = ({k: expected[k] for k in ("processed", "na_fills", "labels")}
                          if a.workload == "etl_pages" else TABLE_SIZES)
        # the share of the host's CPU time stolen by other guests while the
        # passes ran: the figures of a run with a high share are slowed
        ticks = [t1 - t0 for t0, t1 in zip(ticks0, cpu_ticks())]
        isolation = {"host_steal_frac": round(ticks[7] / max(1, sum(ticks)), 4)}
        print(json.dumps({"machine": {**machine(launch, n_cpus), **isolation},
                          "workload": a.workload,
                          "seed": a.seed, "inputs": inputs_summary, "passes": len(passes),
                          "failed_ops": failed}))
        if not passes or any(metrics.get(k) is None for k in units):
            fail(f"no complete pass: {failed}")
        print("summary: " + ", ".join(f"{k}={metrics[k]:.4f} {units[k]}" for k in units)
              + f", ops_failed_frac={len(failed) / attempted:.4f} ({len(failed)}/{attempted})"
              + f", correct={not failed}")
        print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                          "metrics": {k: {"value": metrics[k], "unit": u}
                                      for k, u in units.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
