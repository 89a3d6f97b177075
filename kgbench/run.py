#!/usr/bin/env python3
"""Benchmark of graft: the kg.Main pipeline on generated WARC files and
a suite of registry queries.

Run from the root of a checkout:

  python3 kgbench/run.py --workload warc_wide --seed 1 --seconds 10 --trace 0

Builds the repository and the harness with sbt (once per source state),
generates the workload's inputs from the seed, runs the harness JVM
(kgbench/src) and prints its JSON result as the last line of stdout.
`--trace 1` adds a traced rep whose per-layer numbers replace the
end-to-end metrics (the layers a workload does not run report 0); the
full report lands in
.bench_build/kgbench/work/<workload>-<seed>-<trace>/report.json.

Workloads (sizes are in BENCHMARK.json):
  warc_wide    kg.Main.runPages on gzipped WARC files written by
               warcgen.py with a wide, variant-heavy name vocabulary:
               io.Warc, extraction, then linking, connected components
               and PageRank, with links the largest stage. A rep is one
               runPages call.
  query_suite  registry queries of graft.SparkEntry (every ROADMAP
               target query and one or more per module) over the tables
               in kgbench/data, whose rows the seed reorders. A rep is one
               pass over the queries.

A run builds a session (set-up) and times one rep, the first in the
JVM, as a batch job that runs once sees it: JIT and code-generation
warm-up included. A warm-up rep would cost about as much again, and the
two would not fit the run's time budget. A rep takes longer than
--seconds. Every output is checked outside the timed region. A traced
run measures warm reps instead: a traced one and an untraced one after
it, whose difference is the tracing overhead.

Output digests are pinned in kgbench/expected.json: per seed for
warc_wide, once per query for query_suite. A seed without pinned digests
is checked against the generator's planted facts only; its digests are
in the report, from where they can be copied into expected.json.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "kgbench")
EXPECTED = os.path.join(HERE, "expected.json")

sys.path.insert(0, HERE)
import warcgen  # noqa: E402

WORKLOADS = ("warc_wide", "query_suite")
TABLES = os.path.join(HERE, "data", "sf0.001")
WARC = dict(pages=400, pool_size=4000, names_per_page=20, files=8)
RUN_LIMIT_S = 170  # a run must end within 180 s
JVM_OPTS = [
    "-Xmx4g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout
    kill the whole group (sbt's launcher forks a JVM), then wait again.
    Returns (returncode or None on timeout, stdout)."""
    proc = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""


def source_stamp():
    """Hash of everything the build reads, so sbt runs only on change."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the repository and the harness; return the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"kgbench: no {need} at {ROOT}; run from the "
                             "root of a graft checkout")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log("building with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "writeClasspath"], 600, cwd=HERE, env=env,
                        stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out[-4000:])
        raise SystemExit("kgbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read()


def warc_inputs(seed):
    """Generate the warc_wide input for `seed` and self-test the
    generator: the same seed must give byte-identical files, and another
    seed must draw other names. Returns (input dir, failures)."""
    base = os.path.join(BUILD, "inputs")
    shutil.rmtree(base, ignore_errors=True)
    main = os.path.join(base, f"warc-{seed}")
    warcgen.generate(main, seed, **WARC)
    fails = []
    with tempfile.TemporaryDirectory(dir=BUILD) as tmp:
        same, other = os.path.join(tmp, "same"), os.path.join(tmp, "other")
        warcgen.generate(same, seed, **WARC)
        warcgen.generate(other, seed + 1, **WARC)

        def blob(d):
            w = os.path.join(d, "warc")
            return b"".join(open(os.path.join(w, f), "rb").read()
                            for f in sorted(os.listdir(w)))

        def names(d):
            # the drawn surface names, without the URLs (which hold the seed)
            with open(os.path.join(d, "labels.tsv"), encoding="utf-8") as fh:
                return [line.rstrip("\n").split("\t")[1:] for line in fh]
        if blob(main) != blob(same):
            fails.append("same seed gave different WARC bytes")
        if names(main) == names(other):
            fails.append("another seed drew the same names")
    return main, fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    started = time.time()
    pretest_fails = []
    pretests = 0
    inp = TABLES
    if a.workload == "warc_wide":
        inp, pretest_fails = warc_inputs(a.seed)
        pretests = 2
    with open(EXPECTED) as fh:
        pinned = json.load(fh)[a.workload]
    expect = pinned if a.workload == "query_suite" else pinned.get(str(a.seed), {})

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "graft.bench.KgBench",
        "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
        "--work", work, "--input", inp, "--cores", str(cores),
        "--budget", str(RUN_LIMIT_S - 10 - (time.time() - started)),
        "--expect", ",".join(f"{k}={v}" for k, v in sorted(expect.items())),
        "--pretests", str(pretests),
        "--pretest-fail", "; ".join(pretest_fails)]
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(log_path, "w") as err:
        rc, out = run_group(cmd, max(10, RUN_LIMIT_S - (time.time() - started)),
                            cwd=ROOT, stdout=subprocess.PIPE, stderr=err)
    if rc is None:
        raise SystemExit(f"kgbench: harness timed out; see {log_path}")
    lines = [x for x in out.splitlines() if x.startswith("{")]
    if not lines:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"kgbench: no result (exit {rc})")
    res = json.loads(lines[-1])
    # print exactly the metrics BENCHMARK.json declares for this mode
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in
                    json.load(fh)["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in declared if n not in res["metrics"]]
    if missing:
        raise SystemExit(f"kgbench: harness did not measure {missing}")
    res["metrics"] = {n: res["metrics"][n] for n in declared}
    with open(os.path.join(work, "report.json")) as fh:
        report = json.load(fh)
    log(f"report {os.path.relpath(os.path.join(work, 'report.json'), ROOT)}")
    for k, unit in (("setup_s", "s"), ("pipeline_s", "s"),
                    ("pages_per_s", "1/s"), ("suite_s", "s"),
                    ("query_p50_s", "s"), ("query_tail_s", "s"),
                    ("query_tail_pct", "%"), ("failed_share", "ratio"),
                    ("trace_overhead_s", "s"), ("scaling_eff", "ratio"),
                    ("stage_share", "ratio")):
        if k in report:
            log(f"{k} = {report[k]} {unit}")
    print(json.dumps(res))
    sys.exit(rc if rc else (0 if res["correct"] else 1))


if __name__ == "__main__":
    main()
