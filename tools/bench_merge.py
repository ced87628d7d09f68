#!/usr/bin/env python3
"""Min-merge >=2 full graft.Bench runs into one committed artifact.

Single-run benches on this VM disagree by up to 20x per query from
contention (round-7 finding: q_interval_join 10.10 s vs 0.45 s on
identical code), so the per-query MINIMUM across runs is the noise-floor
estimator — same methodology stress_merge.py applies to the stress side.
The merged "value" is recomputed as the sum of the per-query minimums;
each input run's own total is preserved in "runs" for the contention
record.

Rejects: unparseable files, subset runs (metric "subset_total" /
an "only" field — a SPARK_GRAFT_ONLY run is not a full bench),
runs with a non-empty "failures" array, and runs whose query sets
disagree (a partial run min-merged into a full one would understate
the total).

Usage:
    python3 tools/bench_merge.py [--merge-prior prior.json] [--fresh runK.json] \
        run1.json run2.json [...] out.json

--fresh names ONE of the input runs as the round's fresh-session
headline: its total is copied verbatim into the output as
"fresh_total" (+ "fresh_run"). Rationale (round-10 verdict): the
min-merge is monotone non-increasing BY CONSTRUCTION — it can never
show a regression — so it is a "best known" number, not a measurement
of the session. The fresh single-session total is what "did this round
make it faster" means; both belong in the artifact.

--merge-prior extends the min across tonight's runs with a PRIOR merged
artifact's per-query values — valid ONLY when the code behind the shared
queries is unchanged between the prior artifact's HEAD and the current
one (purely additive commits), in which case the prior runs are more
runs of identical code and the per-query min remains the noise-floor
estimator. The prior's query set must be a subset of the runs' set
(prior-only queries are unverified at the current HEAD and are
rejected); provenance is recorded in the output's "runs" list.
"""
import datetime
import json
import subprocess
import sys


def provenance():
    """HEAD sha + UTC timestamp for the artifact (round-11 verdict:
    artifacts without provenance are indistinguishable from stale
    number bumps). Best-effort on the sha: a merge run outside a git
    checkout still produces a stamped artifact."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"],
                             capture_output=True, text=True,
                             check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        sha = None
    return {"head_sha": sha,
            "generated_utc": datetime.datetime.now(
                datetime.timezone.utc).isoformat(timespec="seconds")}


def check_run_sha(path, run, head_sha):
    """Every input run must have been produced at the HEAD this merge
    stamps (r12 ADVICE: merge-time stamping alone launders stale run
    files into a freshly-stamped artifact). Bench/StressSmoke embed
    head_sha (with a -dirty suffix for modified trees) since round 13;
    a missing field means a pre-r13 or hand-edited run — rejected."""
    run_sha = run.get("head_sha")
    if not run_sha:
        raise SystemExit(f"{path}: no head_sha in run artifact (produced by a "
                         "pre-r13 binary or hand-edited) — rejected")
    if head_sha and run_sha != head_sha:
        raise SystemExit(f"{path}: produced at {run_sha}, but merging at "
                         f"{head_sha} — stale run rejected (re-run at HEAD, "
                         "or commit first: a -dirty suffix means the "
                         "measuring tree had uncommitted changes)")


def main():
    args = sys.argv[1:]
    prior_path = None
    fresh_path = None
    while args and args[0] in ("--merge-prior", "--fresh"):
        if len(args) < 2:
            raise SystemExit(f"{args[0]} requires a value\n\n{__doc__}")
        if args[0] == "--merge-prior":
            prior_path = args[1]
        else:
            fresh_path = args[1]
        args = args[2:]
    # >= 2 runs + out normally; --merge-prior supplies extra data so 1
    # run + out suffices there. --fresh only NAMES one of the runs, it
    # does not supply one, so it never relaxes the positional minimum.
    if len(args) < (2 if prior_path else 3):
        raise SystemExit(__doc__)
    *run_paths, out_path = args
    if fresh_path and fresh_path not in run_paths:
        raise SystemExit(f"--fresh {fresh_path} must be one of the input runs")
    head_sha = provenance()["head_sha"]
    runs = []
    for path in run_paths:
        run = json.load(open(path))
        if run.get("metric") != "total" or "only" in run:
            raise SystemExit(f"{path}: not a full-suite bench "
                             f"(metric={run.get('metric')!r}) — rejected")
        if run.get("failures"):
            raise SystemExit(f"{path}: has failures {run['failures']} — rejected")
        check_run_sha(path, run, head_sha)
        runs.append((path, run))
    names = set(runs[0][1]["queries"])
    for path, run in runs[1:]:
        if set(run["queries"]) != names:
            raise SystemExit(f"{path}: query set differs from {runs[0][0]} — rejected")
    sfs = {run["sf"] for _, run in runs}
    if len(sfs) != 1:
        raise SystemExit(f"runs disagree on sf: {sorted(sfs)}")
    merged = {n: round(min(run["queries"][n] for _, run in runs), 4)
              for n in sorted(names)}
    prior_note = []
    if prior_path:
        prior = json.load(open(prior_path))
        if prior.get("metric") != "total":
            raise SystemExit(f"{prior_path}: not a merged bench artifact — rejected")
        if prior["sf"] not in sfs:
            raise SystemExit(f"{prior_path}: sf {prior['sf']!r} differs — rejected")
        extra = set(prior["queries"]) - names
        if extra:
            raise SystemExit(
                f"{prior_path}: queries absent from the current runs "
                f"(unverified at this HEAD): {sorted(extra)} — rejected")
        for n, sec in prior["queries"].items():
            merged[n] = round(min(merged[n], sec), 4)
        prior_note = [{"file": prior_path, "total_sec": round(prior["value"], 2),
                       "role": "prior merged artifact (identical code for its "
                               "queries; see commit message for the HEAD range)"}]
    artifact = {
        "metric": "total",
        **provenance(),
        "value": round(sum(merged.values()), 4),
        "unit": "sec",
        "queries": merged,
        "sf": sfs.pop(),
        "merge": "per-query min",
        "runs": prior_note + [{"file": path, "total_sec": round(run["value"], 2)}
                              for path, run in runs],
    }
    if fresh_path:
        fresh = next(run for path, run in runs if path == fresh_path)
        # the honest session measurement, NOT the monotone min-merge:
        # one fresh full run (per-query median-of-reps inside Bench)
        artifact["fresh_total"] = round(fresh["value"], 2)
        artifact["fresh_run"] = fresh_path
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1)
        f.write("\n")
    totals = ", ".join(f"{r['total_sec']}" for r in artifact["runs"])
    print(f"{out_path}: {len(merged)} queries, min-merged total "
          f"{artifact['value']:.1f}s (single runs: {totals})")


if __name__ == "__main__":
    main()
