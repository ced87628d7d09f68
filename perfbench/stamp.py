#!/usr/bin/env python3
"""Stamp the committed result digests of every contract query over the
benchmark's input (data/sf0.01):

    python3 perfbench/stamp.py

Runs the harness twice in stamp mode (separate JVMs). Each run
digests every contract query through both sinks: the collected result
(noop workloads) and the parquet that IngestionJob.saveTables wrote,
read back (ingest workload). A digest enters
perfbench/digests/sf0.01.json only when all four agree; a query
whose digests disagree or whose call fails is listed under "unstable"
with the reason, and workloads.json must not use it.
"""

import argparse
import datetime
import json
import shutil
import subprocess
import time

import run


def head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=run.ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def stamp_once(classpath, i):
    work = run.RUN_ROOT / f"stamp-{i}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        return run.run_jvm(classpath, {"mode": "stamp", "queries": "*", "data": run.DATA},
                           work, time.monotonic() + 1800)["results"]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    classpath = run.build()
    runs = [stamp_once(classpath, i) for i in (1, 2)]
    digests = {}
    unstable = {}
    for q in sorted(runs[0]):
        got = [r[q][sink] for r in runs for sink in ("noop", "parquet")]
        errors = [g["error"] for g in got if "error" in g]
        if errors:
            unstable[q] = errors[0]
        elif len({g["digest"] for g in got}) > 1:
            unstable[q] = "digest differs between runs or sinks: " + \
                ", ".join(g["digest"] for g in got)
        else:
            digests[q] = got[0]["digest"]
    out = run.DIGESTS
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({
        "scale": "sf0.01",
        "stamped_at": head(),
        "generated_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
        "digests": digests,
        "unstable": unstable,
    }, indent=1, sort_keys=True) + "\n")
    print(f"{out.relative_to(run.ROOT)}: {len(digests)} digests, {len(unstable)} unstable queries")


if __name__ == "__main__":
    main()
