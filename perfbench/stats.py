"""Statistics and accounting for the benchmark, kept apart from the
process handling in run.py so the rules are unit-tested on their own
(test_stats.py): percentiles with their sample count, failure
accounting, per-layer sums and the layer reconciliation."""

import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so one outlier cannot set it.
SAMPLES_BEYOND = 10

# Per query, construct + catalyst + exec must reconcile with the
# execution's wall time to within this share; the remainder is
# reported as residual_s either way.
RECONCILE_SHARE = 0.05

MB = 1e6


def percentile(values, p, steps=64):
    """Harrell-Davis estimate of the p-th percentile (0 < p < 100): the
    mean of all order statistics weighted by a Beta((n+1)q, (n+1)(1-q))
    distribution over their ranks, q = p/100. A single order statistic
    jumps when samples near it swap places, which over a mix of queries
    of different cost moves the median between two queries' latencies;
    the weighted mean varies less. The weights are integrated with
    Simpson's rule on each rank interval."""
    if not values:
        raise ValueError("percentile of no samples")
    x = sorted(values)
    n = len(x)
    q = p / 100
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def density(t):
        if t <= 0 or t >= 1:
            return 0.0
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta)

    def weight(lo, hi):
        h = (hi - lo) / steps
        return h / 3 * sum((1 if k in (0, steps) else 4 if k % 2 else 2) * density(lo + k * h)
                           for k in range(steps + 1))

    w = [weight(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def samples_beyond(n, p):
    """How many of n samples lie above the p-th percentile's rank."""
    return n - max(1, math.ceil(p / 100 * n))


def supported_percentile(values, p):
    """The p-th percentile, refused unless SAMPLES_BEYOND samples lie
    beyond it."""
    beyond = samples_beyond(len(values), p)
    if beyond < SAMPLES_BEYOND:
        raise ValueError(
            f"p{p:g} of {len(values)} samples has {beyond} beyond it; "
            f"{SAMPLES_BEYOND} are needed")
    return percentile(values, p)


def executions(record, traced=None):
    """Timed executions of a run record, optionally only from traced
    (True) or untraced (False) passes."""
    return [e for p in record["passes"]
            if traced is None or p["traced"] == traced
            for e in p["execs"]]


def check_failures(checks, expected):
    """Queries whose check-pass result is wrong: an error, a missing
    committed digest, or a digest that differs. Returns
    {query: reason}."""
    wrong = {}
    for q, got in checks.items():
        if "error" in got:
            wrong[q] = "error: " + got["error"]
        elif q not in expected:
            wrong[q] = "no committed digest"
        elif got["digest"] != expected[q]:
            wrong[q] = f"digest {got['digest']} != committed {expected[q]}"
    return wrong


def accounting(record, expected):
    """(attempted, failed, wrong) over the check pass and the timed
    passes. An execution fails when it throws in construction, Catalyst
    or execution, or when the sink returns a failed table; a checked
    result fails when its digest does not match."""
    timed = executions(record)
    wrong = check_failures(record["checks"], expected)
    attempted = len(record["checks"]) + len(timed)
    failed = len(wrong) + sum(1 for e in timed if e["error"] is not None)
    return attempted, failed, wrong


def setup_seconds(record):
    """Process launch to the end of set-up: JVM start, session, warm-up,
    layouts and statistics."""
    s = record["setup"]
    return s["jvm_s"] + s["session_s"] + s["warm_s"] + s["layout_s"]


def pass_walls(record):
    """Sum of execution latencies per untraced pass: the batch time of
    one pass, without the harness's own work between executions."""
    return [sum(e["latency_s"] for e in p["execs"])
            for p in record["passes"] if not p["traced"]]


def end_to_end(record):
    lat = [e["latency_s"] for e in executions(record, traced=False)]
    return {
        "setup_s": (setup_seconds(record), "s"),
        "wall_s": (statistics.median(pass_walls(record)), "s"),
        "query_p50_s": (supported_percentile(lat, 50), "s"),
        "retained_heap_mb": (statistics.median(record["retained_heap_bytes"]) / MB, "MB"),
    }


PHASES = ("analysis", "optimization", "planning")


def covered_ms(intervals):
    """Length of the union of [start, end] intervals."""
    total = 0.0
    hi = None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            total += b - a
            hi = b
        elif b > hi:
            total += b - hi
            hi = b
    return total


def sql_executions(e):
    """[start_ms, end_ms] of the SQL executions the sink call's jobs ran
    in, from Spark's SQL execution events."""
    return [(s["start_ms"], s["end_ms"]) for s in e["exec_spans"]
            if s["name"].startswith("sql ")]


def layers(e):
    """One traced execution split into layers (seconds).

    construct is the harness's timing of the query call. catalyst.* are
    the phases of the write command's QueryExecution.tracker. exec is
    the time of the SQL executions the sink call's jobs ran in (Spark's
    own start and end events) outside those phases. Both come from
    Spark, not from the harness's clock, so residual_s, the latency
    that construct + catalyst + exec leave unexplained, is measured:
    the sink call's time outside every Catalyst phase and SQL
    execution (building the write command, Spark's result hand-off),
    negative if Spark reports more time than the call took."""
    cat = e.get("catalyst") or {}
    phases = {ph: tuple(cat[ph]) for ph in PHASES if cat.get(ph)}
    catalyst = {ph: (phases[ph][1] - phases[ph][0]) / 1e3 if ph in phases else 0.0
                for ph in PHASES}
    covered = covered_ms(list(phases.values()) + sql_executions(e)) / 1e3
    return {
        "construct_s": e["construct_s"],
        **{f"catalyst.{ph}_s": v for ph, v in catalyst.items()},
        "exec_s": covered - sum(catalyst.values()),
        "sink_s": e["sink_s"],
        "latency_s": e["latency_s"],
        "residual_s": e["latency_s"] - e["construct_s"] - covered,
    }


def reconciles(e):
    """Whether construct + catalyst + exec is within RECONCILE_SHARE of
    the execution's wall time."""
    lay = layers(e)
    return abs(lay["residual_s"]) <= RECONCILE_SHARE * lay["latency_s"]


def trace_overhead(record):
    """Median over the traced passes of a traced pass's wall over that
    of the untraced pass after it, minus 1. Comparing with the pass
    after keeps the JIT warm-up left in earlier passes out of it."""
    p = record["passes"]
    ratios = [sum(e["latency_s"] for e in a["execs"]) /
              sum(e["latency_s"] for e in b["execs"]) - 1
              for a, b in zip(p, p[1:]) if a["traced"] and not b["traced"]]
    if not ratios:
        raise ValueError("a traced run needs an untraced pass after a traced one")
    return statistics.median(ratios)


def per_layer(record, expected):
    """Σ per workload (one pass; the mean over the run's traced passes)
    of every per-layer metric, plus the run-level counts."""
    traced = [p for p in record["passes"] if p["traced"]]
    if not traced:
        raise ValueError("a traced run needs at least one traced pass")
    cores = record["cores"]

    def per_pass(fn):
        return statistics.fmean(sum(fn(e) for e in p["execs"]) for p in traced)

    lay = lambda k: per_pass(lambda e: layers(e)[k])  # noqa: E731
    cons = lambda k: per_pass(lambda e: e["construct"][k])  # noqa: E731
    ex = lambda k: per_pass(lambda e: e["exec"][k])  # noqa: E731
    exec_s = lay("exec_s")
    tasks = ex("tasks")
    rows = per_pass(lambda e: e["rows"] if e["rows"] is not None
                    else record["checks"][e["query"]].get("rows", 0))
    out_bytes = per_pass(lambda e: e.get("output_bytes", 0))
    timed = executions(record)
    _, _, wrong = accounting(record, expected)
    m = {
        "setup.jvm_s": (record["setup"]["jvm_s"], "s"),
        "setup.session_s": (record["setup"]["session_s"], "s"),
        "setup.warm_s": (record["setup"]["warm_s"], "s"),
        "setup.layout_s": (record["setup"]["layout_s"], "s"),
        "construct.s": (lay("construct_s"), "s"),
        "construct.jobs": (cons("jobs"), "count"),
        "construct.tasks": (cons("tasks"), "count"),
        "catalyst.analysis_s": (lay("catalyst.analysis_s"), "s"),
        "catalyst.optimization_s": (lay("catalyst.optimization_s"), "s"),
        "catalyst.planning_s": (lay("catalyst.planning_s"), "s"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (ex("jobs"), "count"),
        "exec.stages": (ex("stages"), "count"),
        "exec.tasks": (tasks, "count"),
        "exec.task_run_s": (ex("task_run_s"), "s"),
        "exec.task_cpu_s": (ex("task_cpu_s"), "s"),
        "exec.gc_s": (ex("gc_s"), "s"),
        "exec.core_busy_frac": (ex("task_run_s") / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "exec.empty_task_frac": (ex("empty_tasks") / tasks if tasks else 0.0, "ratio"),
        "exec.input_mb": (ex("input_bytes") / MB, "MB"),
        "exec.shuffle_write_mb": (ex("shuffle_write_bytes") / MB, "MB"),
        "exec.shuffle_read_mb": (ex("shuffle_read_bytes") / MB, "MB"),
        "exec.spill_mb": (ex("spill_bytes") / MB, "MB"),
        "exec.peak_exec_mem_mb": (max(e["exec"]["peak_exec_mem_bytes"]
                                      for p in traced for e in p["execs"]) / MB, "MB"),
        "sink.s": (lay("sink_s"), "s"),
        "sink.output_mb": (out_bytes / MB, "MB"),
        "sink.files": (per_pass(lambda e: e.get("output_files", 0)), "count"),
        "sink.rows": (rows, "count"),
        "sink.bytes_per_row": (out_bytes / rows if rows else 0.0, "B/row"),
        "sink.failed_tables": (sum(1 for e in timed if e["failed_in"] == "sink"), "count"),
        "construct.failed": (sum(1 for e in timed if e["failed_in"] == "construct"), "count"),
        "exec.failed": (sum(1 for e in timed if e["failed_in"] == "exec"), "count"),
        "check.wrong": (len(wrong), "count"),
        "residual_s": (lay("residual_s"), "s"),
        "trace.overhead_frac": (trace_overhead(record), "ratio"),
    }
    return m


def per_query(record):
    """Mean per-layer seconds and counters of each query over its traced
    executions, keyed by query name."""
    out = {}
    for e in executions(record, traced=True):
        row = dict(layers(e))
        row.update({f"construct.{k}": v for k, v in e["construct"].items()})
        row.update({f"exec.{k}": v for k, v in e["exec"].items()})
        row["reconciles"] = 1.0 if reconciles(e) else 0.0
        out.setdefault(e["query"], []).append(row)
    return {q: {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
            for q, rows in sorted(out.items())}


def spans(record):
    """Every traced execution as nested spans (epoch ms): query →
    construct → sql → job → stage, and query → sink → catalyst phases
    and sql (the SQL executions that make up exec) → job → stage. Each
    span names its parent; spans of one execution share its id
    prefix."""
    out = []
    n = 0
    for p in record["passes"]:
        for e in p["execs"]:
            n += 1
            if not p["traced"]:
                continue
            qid = f"e{n}"

            def add(sid, name, parent, t0, t1, **attrs):
                out.append({"id": sid, "name": name, "parent": parent,
                            "start_ms": t0, "end_ms": t1, **attrs})

            add(qid, "query", None, e["start_ms"], e["end_ms"],
                query=e["query"], ok=e["error"] is None)
            add(f"{qid}.construct", "construct", qid, e["start_ms"], e["construct_end_ms"])
            add(f"{qid}.sink", "sink", qid, e["construct_end_ms"], e["end_ms"])
            cat = e.get("catalyst") or {}
            for ph in PHASES:
                if cat.get(ph):
                    add(f"{qid}.catalyst.{ph}", f"catalyst.{ph}", f"{qid}.sink", *cat[ph])
            for layer, root in (("construct", f"{qid}.construct"), ("exec", f"{qid}.sink")):
                names = {s["name"] for s in e[f"{layer}_spans"]}
                for s in e[f"{layer}_spans"]:
                    par = f"{qid}.{layer}.{s['parent']}" if s["parent"] in names else root
                    add(f"{qid}.{layer}.{s['name']}", s["name"], par, s["start_ms"], s["end_ms"])
    return out
