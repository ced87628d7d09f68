#!/usr/bin/env python3
"""The repository's benchmark: one closed-loop client running a
workload's contract queries one at a time against a local[nproc]
session, checking every result against its committed digest.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run gets a fresh work
directory under perfbench/.run (tmpdir, warehouse, Spark local dir,
parquet sink), removed when the run ends. With --trace 1 the run
also writes perfbench/out/<workload>-seed<N>-trace.json: per-query
layer numbers, Σ per workload and every span.

The last line of stdout is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import stats  # noqa: E402

ENGINE_SRC = ROOT / "src" / "main"
BUILD_DIR = BENCH / "target"
CLASSPATH_FILE = BUILD_DIR / "perfbench-classpath.txt"
BUILD_STAMP = BUILD_DIR / "perfbench-sources.sha256"
RUN_ROOT = BENCH / ".run"
OUT_DIR = BENCH / "out"
DATA = BENCH / "data" / "sf0.01"
DIGESTS = BENCH / "digests" / "sf0.01.json"

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# a fixed heap size, so heap growth does not vary the collector's work
# from run to run
JVM_HEAP = ["-Xms3g", "-Xmx3g"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ENGINE_SRC, ROOT / "build.sbt", BENCH / "src", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def sources_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness (once per source state); return the
    runtime classpath sbt reports."""
    if not (ENGINE_SRC / "scala").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    digest = sources_hash()
    if (BUILD_STAMP.is_file() and CLASSPATH_FILE.is_file()
            and BUILD_STAMP.read_text().strip() == digest):
        return CLASSPATH_FILE.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 3)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 3)
    classpath = lines[-1].strip()
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    CLASSPATH_FILE.write_text(classpath + "\n")
    BUILD_STAMP.write_text(digest + "\n")
    return classpath


def load_json(path):
    try:
        return json.loads(path.read_text())
    except (OSError, ValueError) as e:
        fail(f"cannot read {path}: {e}")


def run_jvm(classpath, args, work, deadline):
    """Run the harness JVM to completion (killed at the deadline) and
    return its record."""
    out = work / "record.json"
    log = work / "jvm.log"
    launched_ms = int(time.time() * 1000)
    cmd = ["java", *(f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS),
           *JVM_HEAP, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Harness",
           f"work={work}", f"out={out}", f"launched_ms={launched_ms}",
           *(f"{k}={v}" for k, v in args.items())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    (work / "tmp").mkdir(parents=True)
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not out.is_file():
        sys.stderr.write("".join(log.read_text(errors="replace").splitlines(True)[-40:]))
        fail("harness JVM timed out" if rc is None else f"harness JVM exited with {rc}", 4)
    return json.loads(out.read_text())


def main():
    # a terminated run still stops its JVM and removes its work
    # directory (the finally blocks run on SystemExit)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    workloads = load_json(BENCH / "workloads.json")
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(sorted(workloads))}")
    w = workloads[a.workload]
    if not DATA.is_dir():
        fail(f"input data not found: {DATA}")
    expected = load_json(DIGESTS)["digests"]

    classpath = build()
    RUN_ROOT.mkdir(exist_ok=True)
    work = RUN_ROOT / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        record = run_jvm(classpath, {
            "mode": "run", "queries": ",".join(w["queries"]), "data": DATA,
            "sink": w["sink"], "passes": w["passes"], "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace,
        }, work, time.monotonic() + RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if RUN_ROOT.is_dir() and not any(RUN_ROOT.iterdir()):
            RUN_ROOT.rmdir()

    attempted, failed, wrong = stats.accounting(record, expected)
    for q, why in sorted(wrong.items()):
        print(f"WRONG {q}: {why}", file=sys.stderr)
    for e in stats.executions(record):
        if e["error"] is not None:
            print(f"FAILED {e['query']} in {e['failed_in']}: {e['error']}", file=sys.stderr)

    if a.trace:
        metrics = stats.per_layer(record, expected)
        OUT_DIR.mkdir(exist_ok=True)
        trace_file = OUT_DIR / f"{a.workload}-seed{a.seed}-trace.json"
        trace_file.write_text(json.dumps({
            "workload": a.workload, "seed": a.seed,
            "sum_per_workload": {k: v for k, (v, _) in metrics.items()},
            "per_query": stats.per_query(record),
            "spans": stats.spans(record),
        }, indent=1))
        print(f"trace: {trace_file.relative_to(ROOT)}")
    else:
        metrics = stats.end_to_end(record)
    print(f"workload {a.workload}: {len(w['queries'])} queries, "
          f"{len(stats.executions(record))} timed executions, "
          f"{attempted} attempted, {failed} failed; set-up {stats.setup_seconds(record):.1f} s, "
          f"check pass {record['check_s']:.1f} s, timed {record['timed_s']:.1f} s, "
          f"run {time.monotonic() - started:.1f} s")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
