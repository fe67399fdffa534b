"""Reduce one run's record (written by graftbench.Main) to metrics.

End-to-end metrics are the same four names on every workload, each bound
to that workload's main op (see README.md). Their times are host-normalized:
each op's duration is scaled by CALIB_REF_S over the median of the
calibration times taken around it, so that it reads as seconds on a host
where the calibration loop takes CALIB_REF_S. The raw times, and the
workload's own names (fold_p50_s, curate_s, ...), go to the report. Per-layer metrics are raw, per timed op, averaged over
the run, and broken down by op kind in the report.
"""
import math
import statistics

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("ops_per_s", "1/s")]

# per timed op, averaged over the run
PER_OP = [
    ("queries.construct_s", "s"), ("spark.analysis_s", "s"),
    ("spark.optimization_s", "s"), ("spark.planning_s", "s"),
    ("spark.exec_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.exec_cpu_s", "s"),
    ("spark.exec_run_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_mb", "MB"), ("spark.shuffle_write_mb", "MB"),
    ("spark.spill_mb", "MB"), ("core.scan_input_mb", "MB"),
    ("core.materialize_jobs", "count"), ("core.materialize_s", "s"),
    ("streaming.write_mb", "MB"),
]
# whole-run values
PER_RUN = [
    ("spark.unattributed_jobs", "count"), ("spark.core_util", "ratio"),
    ("core.scan_tasks_per_stage", "count"),
    ("plans.version_token_first_s", "s"), ("plans.version_token_p50_s", "s"),
    ("plans.version_token_last_s", "s"), ("plans.route_hit_ratio", "ratio"),
    ("streaming.state_files", "count"), ("streaming.state_mb", "MB"),
    ("trace.op_p50_s", "s"), ("host.calib_s", "s"),
]
# Reported per op kind but left out of the result: no gated workload
# materializes, so it would read 0 s on every run.
REPORT_ONLY = {"core.materialize_s"}
PER_LAYER = [m for m in PER_OP + PER_RUN if m[0] not in REPORT_ONLY]

# each workload's main op: a dashboard query, a batch's freshness (fold
# start -> routed dashboard that includes it), a crawl batch
MAIN_OP = {"analyst": "query", "mv_stream": "fresh",
           "crawl_curate": "crawl_batch"}
MATERIALIZE_CALLS = ("localCheckpoint", "checkpoint")
# the calibration loop's time on the 4-core box the baseline ran on
CALIB_REF_S = 0.011
# calibrations taken before the ops this many ids either side of an op
# set its scale
CALIB_WINDOW = 2


def tail(values):
    """(value, percentile, n): the highest whole percentile with at least
    ten samples beyond it, by nearest rank. Below 20 samples no percentile
    from the median up qualifies; the maximum is returned as percentile
    100 instead, since a lower percentile is no tail."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return (s[-1] if s else float("nan")), 100, n
    pct = (100 * (n - 10)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return s[rank - 1], pct, n


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def failed_ids(record):
    bad = {o["id"] for o in record["ops"] if o["error"] is not None}
    return bad | set(record["meta"].get("failed_ops", []))


def durations(record, normalized):
    """{op id: duration}, each scaled by its host factor if `normalized`."""
    ops = record["ops"]
    if not normalized:
        return {o["id"]: o["t1"] - o["t0"] for o in ops}
    before = {s["after_op"] + 1: s["value"] for s in record["samples"]
              if s["name"] == "calib_s"}
    out = {}
    for o in ops:
        near = [before[i] for i in range(o["id"] - CALIB_WINDOW,
                                          o["id"] + CALIB_WINDOW + 1)
                if i in before]
        scale = CALIB_REF_S / _median(near) if near else 1.0
        out[o["id"]] = (o["t1"] - o["t0"]) * scale
    return out


def main_latencies(record, normalized=True):
    """Latencies of the workload's main op, as sums of op durations (the
    harness's own work between ops is left out); one with a failed part
    is left out."""
    ops, bad = record["ops"], failed_ids(record)
    dur = durations(record, normalized)
    wl = record["meta"]["workload"]
    kind = MAIN_OP[wl]
    if kind == "fresh":
        folds = {o["name"]: o["id"] for o in ops if o["kind"] == "fold"}
        return [dur[folds[d["name"]]] + dur[d["id"]]
                for d in ops if d["kind"] == "dash" and d["name"] in folds
                and d["id"] not in bad and folds[d["name"]] not in bad]
    return [dur[o["id"]] for o in ops if o["kind"] == kind and o["id"] not in bad]


def calibration(record):
    """The run's median calibration time, or CALIB_REF_S without one."""
    cal = [s["value"] for s in record["samples"] if s["name"] == "calib_s"]
    return _median(cal) if cal else CALIB_REF_S


def end_to_end(record, launched_at):
    """(metrics, report): the contract metrics and the workload's named
    metrics. `launched_at` is when the JVM was started."""
    ops, bad = record["ops"], failed_ids(record)
    wl = record["meta"]["workload"]
    setup = (ops[0]["t0"] - launched_at) if ops else float("nan")

    def contract(lat, setup_scale):
        return {"setup_s": setup * setup_scale, "op_p50_s": _median(lat),
                "op_tail_s": tail(lat)[0],
                "ops_per_s": len(lat) / sum(lat) if lat else float("nan")}
    m = contract(main_latencies(record), CALIB_REF_S / calibration(record))
    raw_lat = main_latencies(record, normalized=False)
    rep = {"raw": contract(raw_lat, 1.0), "host_calib_s": calibration(record),
           "error_rate": len(bad) / len(ops) if ops else float("nan")}
    raw = durations(record, normalized=False)

    def timing(name, values):
        value, pct, n = tail(values)
        rep.update({f"{name}_p50_s": _median(values), f"{name}_tail_s": value,
                    f"{name}_tail_pct": pct, f"{name}_n": n})

    def kind_lat(k):
        return [raw[o["id"]] for o in ops if o["kind"] == k and o["id"] not in bad]

    timing(MAIN_OP[wl], raw_lat)
    if wl == "analyst":
        n = record["meta"]["round_size"]
        rounds = [ops[i:i + n] for i in range(0, len(ops) - n + 1, n)]
        timing("refresh", [sum(raw[o["id"]] for o in r) for r in rounds
                           if not any(o["id"] in bad for o in r)])
        rep["queries_per_s"] = rep["raw"]["ops_per_s"]
    elif wl == "mv_stream":
        timing("fold", kind_lat("fold"))
        timing("dash", kind_lat("dash"))
        rep["batches_per_s"] = rep["raw"]["ops_per_s"]
    else:
        rep["crawl_batches_per_s"] = rep["raw"]["ops_per_s"]
        rep["curate_s"] = _median(kind_lat("curate"))
        chains, cur = [], []
        for o in ops:
            cur.append(o)
            if o["kind"] == "curate":
                if not any(x["id"] in bad for x in cur):
                    chains.append(sum(raw[x["id"]] for x in cur))
                cur = []
        rep["pipeline_s"] = _median(chains)
    return m, rep


def _op_of(t, windows):
    for oid, t0, t1 in windows:
        if t0 <= t <= t1:
            return oid
    return None


def per_layer(record):
    """(metrics, by_kind): per-layer metrics over all timed ops, and the
    same per-op means for each op kind."""
    ops = record["ops"]
    cores = record["meta"]["cores"]
    windows = [(o["id"], o["t0"], o["t1"]) for o in ops]
    per = {o["id"]: dict.fromkeys((n for n, _ in PER_OP), 0.0) for o in ops}
    stages = {s["id"]: s for s in record["stages"]}
    unattributed = 0
    scan_stages = scan_tasks = 0
    for j in record["jobs"]:
        oid = None
        if j["group"].startswith("op-"):
            oid = int(j["group"][3:])
        else:
            oid = _op_of(j["t0"], windows)
            unattributed += oid is not None
        if oid not in per:
            continue
        p = per[oid]
        p["spark.jobs"] += 1
        if j["call_site"].startswith(MATERIALIZE_CALLS):
            p["core.materialize_jobs"] += 1
            if j["t1"] is not None:
                p["core.materialize_s"] += j["t1"] - j["t0"]
        for sid in j["stages"]:
            s = stages.get(sid)
            if s is None:
                continue   # skipped: its output was reused
            p["spark.stages"] += 1
            p["spark.tasks"] += s["tasks"]
            p["spark.exec_cpu_s"] += s["cpu_s"]
            p["spark.exec_run_s"] += s["run_s"]
            p["spark.gc_s"] += s["gc_s"]
            p["spark.shuffle_read_mb"] += s["shuffle_read_bytes"] / 1e6
            p["spark.shuffle_write_mb"] += s["shuffle_write_bytes"] / 1e6
            p["spark.spill_mb"] += s["spill_bytes"] / 1e6
            p["core.scan_input_mb"] += s["input_bytes"] / 1e6
            p["streaming.write_mb"] += s["output_bytes"] / 1e6
            if s["input_bytes"] > 0:
                scan_stages += 1
                scan_tasks += s["tasks"]
    for e in record["execs"]:
        oid = _op_of(e["t"], windows) if e["t"] is not None else None
        if oid is None:
            continue
        p = per[oid]
        p["spark.analysis_s"] += e["analysis_s"]
        p["spark.optimization_s"] += e["optimization_s"]
        p["spark.planning_s"] += e["planning_s"]
        p["spark.exec_s"] += e["exec_s"]
    for s in record["spans"]:
        if s["name"] == "call" and s["op"] in per and s["t1"] is not None:
            per[s["op"]]["queries.construct_s"] += s["t1"] - s["t0"]

    def means(ids):
        return {n: (sum(per[i][n] for i in ids) / len(ids) if ids else 0.0)
                for n, _ in PER_OP}

    m = means([o["id"] for o in ops])
    wall = sum(o["t1"] - o["t0"] for o in ops)
    samples = record["samples"]

    def sampled(name):
        return [s["value"] for s in samples if s["name"] == name]

    tok = sampled("version_token_s")
    routes = sampled("route_hit")
    files, mb = sampled("state_files"), sampled("state_mb")
    lat = main_latencies(record, normalized=False)
    m.update({
        "spark.unattributed_jobs": unattributed,
        "spark.core_util": (sum(per[o["id"]]["spark.exec_run_s"] for o in ops)
                            / (wall * cores)) if wall else 0.0,
        "core.scan_tasks_per_stage": scan_tasks / scan_stages if scan_stages else 0.0,
        "plans.version_token_first_s": tok[0] if tok else 0.0,
        "plans.version_token_p50_s": _median(tok) if tok else 0.0,
        "plans.version_token_last_s": tok[-1] if tok else 0.0,
        "plans.route_hit_ratio": sum(routes) / len(routes) if routes else 0.0,
        "streaming.state_files": files[-1] if files else 0,
        "streaming.state_mb": mb[-1] if mb else 0.0,
        "trace.op_p50_s": _median(lat),
        "host.calib_s": calibration(record),
    })
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["id"])
    detail = {k: dict(means(ids), n=len(ids)) for k, ids in by_kind.items()}
    return m, detail


def module_rollup(record):
    """Seconds per analyst module: {'queries.Relational.s': ...}."""
    modules, out = record["meta"]["modules"], {}
    for o in record["ops"]:
        key = f"queries.{modules[o['name']]}.s"
        out[key] = out.get(key, 0.0) + o["t1"] - o["t0"]
    return out


def summarize(record, launched_at, trace):
    """(report, result): the human report and the one-line result, whose
    metrics are the end-to-end ones, or the per-layer ones when traced.
    A run is correct when it timed at least one op and none failed."""
    e2e, report = end_to_end(record, launched_at)
    if trace:
        values, report["by_kind"] = per_layer(record)
        units = dict(PER_LAYER)
        if record["meta"]["workload"] == "analyst":
            report.update(module_rollup(record))
    else:
        values, units = e2e, dict(END_TO_END)
    attempted, failed = len(record["ops"]), len(failed_ids(record))
    return report, {
        "correct": attempted > 0 and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}
