"""Metric math for the benchmark: end-to-end figures from the harness's job
runs, and the per-layer split from the traced run's spans.

A run record (one job or chain step executed once) carries `start_ms`,
`construct_end_ms` and `end_ms` on the epoch-millisecond clock Spark's
listener events use, so SQL executions, Spark jobs and stages are linked to
the run whose interval contains them.
"""
import statistics

MB = 1e6


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def select(runs, phase, kind="job"):
    return [r for r in runs if r["phase"] == phase and r["kind"] == kind]


def per_job_median_sum(runs, key="seconds"):
    """Sum over jobs of each job's median `key`: one typical pass."""
    by_job = {}
    for r in runs:
        by_job.setdefault(r["job"], []).append(r[key])
    return sum(median(v) for v in by_job.values())


def passes(runs):
    """{pass index: [runs]} in pass order."""
    out = {}
    for r in runs:
        out.setdefault(r["pass"], []).append(r)
    return dict(sorted(out.items()))


def cold_wall_s(res):
    """The first pass in a fresh JVM: every job once, JIT and codegen cold."""
    return sum(r["seconds"] for r in select(res["runs"], "cold"))


def end_to_end(res):
    wall = per_job_median_sum(select(res["runs"], "timed"))
    return {
        "wall_s": wall,
        "mb_s_per_thread": res["input_bytes"] / MB / wall / res["cores"],
        "setup_s": median(res["setup_s"]),
    }


def retained_mb(res):
    """Storage a caller inherits after one typical pass."""
    return per_job_median_sum(select(res["runs"], "timed"), "retained_bytes") / MB


# ── spans ────────────────────────────────────────────────────────────────

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children
               if min(e, end) > max(s, start)]
    return (end - start) - union_length(clipped)


def _owner(runs, t, slack_ms=1.0):
    for r in runs:
        if r["start_ms"] - slack_ms <= t <= r["end_ms"] + slack_ms:
            return r
    return None


def link(runs, trace):
    """Attaches the traced events to the runs that issued them. Each run
    gets `sql` (executions), `qe` (planning phases and operator metrics of
    the query executions), `jobs` (Spark jobs), each with a `phase`
    (construct or action), and `stages` and `storage` (the storage samples
    inside its interval)."""
    runs = sorted(runs, key=lambda r: r["start_ms"])
    for r in runs:
        r.update(sql=[], qe=[], jobs=[], stages=[], storage=[])

    def phase(r, t):
        return "construct" if t < r["construct_end_ms"] else "action"
    sql_owner = {}
    for s in trace["sql"]:
        r = _owner(runs, s["start_ms"])
        if r is not None:
            r["sql"].append(dict(s, phase=phase(r, s["start_ms"])))
            sql_owner[s["id"]] = (r, phase(r, s["start_ms"]))
    for q in trace["qe"]:
        t = q["arrival_ms"] - q["duration_ms"] / 2
        r = _owner(runs, t)
        if r is not None:
            r["qe"].append(dict(q, phase=phase(r, t)))
    stage_owner = {}
    for j in trace["jobs"]:
        if j["sql"] in sql_owner:
            r, ph = sql_owner[j["sql"]]
        else:
            r = _owner(runs, j["start_ms"])
            if r is None:
                continue
            ph = phase(r, j["start_ms"])
        r["jobs"].append(dict(j, phase=ph))
        for sid in j["stages"]:
            stage_owner[sid] = r
    for st in trace["stages"]:
        r = stage_owner.get(st["id"])
        if r is not None:
            r["stages"].append(st)
    for t, rdd, total in trace["storage"]:
        r = _owner(runs, t)
        if r is not None:
            r["storage"].append((t, rdd, total))
    return runs


def _op(run, kinds, metric):
    """Sum of an operator metric over the run's query executions."""
    total = 0.0
    for q in run["qe"]:
        for kind, m in q["ops"].items():
            if any(kind.startswith(k) for k in kinds):
                total += m.get(metric, 0.0)
    return total


def _op_max(run, kinds, metric):
    best = 0.0
    for q in run["qe"]:
        best = max([best] + [m.get(metric, 0.0) for k, m in q["ops"].items()
                             if any(k.startswith(x) for x in kinds)])
    return best


AGG = ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec")
EXCHANGE = ("ShuffleExchangeExec",)


def run_layers(r):
    """The per-layer record of one linked run (additive across jobs)."""
    construct_sql = [(s["start_ms"], s["end_ms"]) for s in r["sql"]
                     if s["phase"] == "construct"]
    phases = {}
    for q in r["qe"]:
        for k, v in q["phases_ms"].items():
            phases[k] = phases.get(k, 0.0) + v
    persisted = {rdd for _, rdd, _ in r["storage"] if rdd >= 0}
    scans = sum(len(st["cached_rdds"]) for st in r["stages"])
    return {
        "queries.construct_s": r["construct_s"],
        "queries.construct_self_s": self_time(
            r["start_ms"], r["construct_end_ms"], construct_sql) / 1e3,
        "queries.construct_jobs": sum(1 for j in r["jobs"]
                                      if j["phase"] == "construct"),
        "queries.sql_execs": len(r["sql"]),
        "mat.persisted": len(persisted),
        "mat.scans": scans,
        "mat.cached_mb": max([0] + [tot for _, _, tot in r["storage"]]) / MB,
        "mat.retained": r["retained_rdds"],
        "mat.retained_mb": r["retained_bytes"] / MB,
        "catalyst.analysis_s": phases.get("analysis", 0.0) / 1e3,
        "catalyst.optimization_s": phases.get("optimization", 0.0) / 1e3,
        "catalyst.planning_s": phases.get("planning", 0.0) / 1e3,
        "exec.action_s": r["action_s"],
        "exec.stages": len(r["stages"]),
        "exec.tasks": sum(st["tasks"] for st in r["stages"]),
        "exec.task_run_s": sum(st["run_ms"] for st in r["stages"]) / 1e3,
        "exec.task_cpu_s": sum(st["cpu_ns"] for st in r["stages"]) / 1e9,
        "exec.gc_s": sum(st["gc_ms"] for st in r["stages"]) / 1e3,
        "exec.scan_mb": _op(r, ("FileSourceScanExec",), "filesSize") / MB,
        "exec.scan_s": _op(r, ("FileSourceScanExec",), "scanTime") / 1e3,
        "exec.shuffle_write_mb": _op(r, EXCHANGE, "shuffleBytesWritten") / MB,
        "exec.shuffle_read_mb": (_op(r, EXCHANGE, "localBytesRead")
                                 + _op(r, EXCHANGE, "remoteBytesRead")) / MB,
        "exec.agg_s": _op(r, AGG, "aggTime") / 1e3,
        "exec.agg_peak_mb": _op_max(r, AGG, "peakMemory") / MB,
        "exec.sort_s": _op(r, ("SortExec",), "sortTime") / 1e3,
        "exec.spill_mb": _op(r, ("",), "spillSize") / MB,
        "exec.broadcast_mb": _op(r, ("BroadcastExchangeExec",), "dataSize") / MB,
        "seconds": r["seconds"],
    }


PEAK = {"mat.cached_mb", "exec.agg_peak_mb"}


def pass_layers(runs):
    """Combines the job records of one pass: sums, except peaks (max)."""
    out = {}
    for rec in (run_layers(r) for r in runs):
        for k, v in rec.items():
            out[k] = max(out.get(k, 0.0), v) if k in PEAK else out.get(k, 0.0) + v
    return out


def chain_split(step_medians):
    """Decomposes the word-count job by subtracting cumulative prefixes:
    scan, +tokenize, +count, +sort, +CSV sink. Steps add up to `csv`."""
    m = step_medians
    return {
        "wc.scan_s": m["scan"],
        "tok.tokenize_s": m["tokenize"] - m["scan"],
        "wc.aggregate_s": m["count"] - m["tokenize"],
        "wc.sort_s": m["sort"] - m["count"],
        "wc.sink_s": m["csv"] - m["sort"],
    }


def per_layer(res, host):
    runs = res["runs"]
    traced_jobs = select(runs, "traced")
    linked = link(traced_jobs + select(runs, "traced", "step"), res["trace"])
    by_pass = passes([r for r in linked if r["kind"] == "job"])
    recs = [pass_layers(v) for v in by_pass.values()]
    keys = [k for k in recs[0] if k not in ("seconds", "mat.scans")]
    out = {k: median(r[k] for r in recs) for k in keys}
    builds = sum(r["mat.persisted"] for r in recs)
    out["mat.reads_per_build"] = (sum(r["mat.scans"] for r in recs) / builds
                                  if builds else 0.0)
    traced_wall = per_job_median_sum(traced_jobs)
    untraced_wall = per_job_median_sum(select(runs, "timed"))
    out["exec.core_util"] = (out["exec.task_run_s"]
                             / (median(r["seconds"] for r in recs) * res["cores"]))
    out["cold_wall_s"] = cold_wall_s(res)
    out["setup.first_s"] = res["setup_s"][0]
    out["trace.wall_s"] = traced_wall
    out["trace.overhead_s"] = traced_wall - untraced_wall

    wc = res.get("wc")
    if wc:
        steps = {}
        for r in linked:
            name = r["job"] if r["kind"] == "step" else "csv"
            steps.setdefault(name, []).append(r["seconds"])
        out.update(chain_split({k: median(v) for k, v in steps.items()}))
        exch = median(_op(r, ("ShuffleExchangeExec:hashpartitioning",),
                          "shuffleRecordsWritten")
                      for r in linked if r["kind"] == "job")
        out["tok.tokens"] = wc["tokens"]
        out["tok.split_yield"] = wc["tokens"] / wc["split_elements"]
        out["wc.partial_agg_ratio"] = exch / wc["tokens"]
        out["wc.distinct_words"] = wc["distinct"]
    else:  # not applicable: the workload never tokenizes or writes a CSV
        for k in WC_KEYS:
            out[k] = 0.0
    out["host.floor_mb_s"] = res["floor"]["bytes"] / MB / res["floor"]["seconds"]
    out.update(host)
    return out


WC_KEYS = ["wc.scan_s", "tok.tokenize_s", "wc.aggregate_s", "wc.sort_s",
           "wc.sink_s", "tok.tokens", "tok.split_yield",
           "wc.partial_agg_ratio", "wc.distinct_words"]
