"""End-to-end and per-layer metrics from one harness run's output.

Names, units and directions here are the ones BENCHMARK.json lists; the
README says which end-to-end metric each layer metric should move.
"""
import stats

# (name, unit) of every end-to-end metric, in report order
END_TO_END = [
    ("setup_s", "s"), ("queries_per_s", "1/s"), ("latency_p50_s", "s"),
    ("latency_tail_s", "s"), ("query_geomean_s", "s"), ("failed_frac", "ratio"),
    ("heap_live_mb", "MB"),
]
# the end-to-end metrics of the result line (BENCHMARK.json's end_to_end).
# failed_frac is 0 on a healthy run, so it rides in `attempted`/`failed`.
# With 14-34 samples a run's latency_tail_s is a mid percentile of the op
# mix, not a tail, and latency_p50_s jumps between the latencies of the
# queries next to the median (16-17% seed-to-seed spread against 6-10% for
# queries_per_s and query_geomean_s). heap_live_mb depends on which op the
# seed ran last.
GATED = ["setup_s", "queries_per_s", "query_geomean_s"]

# (name, unit, better) of every per-layer metric
PER_LAYER = [
    ("cypher.parse.s", "s", "lower"),
    ("cypher.compile.s", "s", "lower"),
    ("cypher.compile.jobs", "count", "lower"),
    ("cypher.compile.job_s", "s", "lower"),
    ("cypher.compile.driver_s", "s", "lower"),
    ("ops.build.s", "s", "lower"),
    ("ops.build.jobs", "count", "lower"),
    ("ops.build.job_s", "s", "lower"),
    ("ops.build.driver_s", "s", "lower"),
    ("catalyst.optimize.s", "s", "lower"),
    ("catalyst.plan.s", "s", "lower"),
    ("catalyst.plan_nodes", "count", "lower"),
    ("catalyst.exchanges", "count", "lower"),
    ("catalyst.smj", "count", "lower"),
    ("catalyst.broadcasts", "count", "higher"),
    ("exec.s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("job.wall_s", "s", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.core_util", "ratio", "higher"),
    ("exec.shuffle_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.result_rows", "count", "higher"),
    ("storage.bytes_written", "bytes", "lower"),
    ("storage.files_written", "count", "lower"),
    ("streaming.triggers", "count", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.trigger_planning_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("session.start_s", "s", "lower"),
    ("warmup.s", "s", "lower"),
    ("session.conf_mutations", "count", "lower"),
    ("op.self_s", "s", "lower"),
    ("op.unattributed_share", "ratio", "lower"),
]

# spans whose Spark jobs are reported as `<layer>.jobs`, `.job_s`, `.driver_s`
BUILD_LAYERS = ["cypher.compile", "ops.build"]


def _latency(op):
    return (op["end_us"] - op["start_us"]) / 1e6


def end_to_end(out, launch_s, verdicts):
    """(metrics, facts): the end-to-end metrics of a run and the counts
    behind them. An op fails when it threw or its query failed the
    oracle; latencies are those of the ops that did not throw."""
    ops = out["ops"]
    bad = {n for n, v in verdicts.items() if v}
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    done = [o for o in ops if o["ok"]]
    lat = [_latency(o) for o in done]
    by_query = {}
    for o in done:
        by_query.setdefault(o["name"], []).append(_latency(o))
    wall = (ops[-1]["end_us"] - ops[0]["start_us"]) / 1e6
    p, tail_s, beyond = stats.tail(lat) if lat else (0.0, 0.0, 0)
    metrics = {
        "setup_s": out["first_op_us"] / 1e6 - launch_s,
        "queries_per_s": (len(ops) - failed) / wall,
        "latency_p50_s": stats.median(lat),
        "latency_tail_s": tail_s,
        "query_geomean_s": stats.geomean([stats.median(v) for v in by_query.values()])
        if by_query else 0.0,
        "failed_frac": failed / len(ops),
        "heap_live_mb": out["heap_live_mb"],
    }
    facts = {"attempted": len(ops), "failed": failed, "samples": len(lat),
             "tail_percentile": p, "tail_beyond": beyond, "passes": len(ops) / len(out["warmup"])}
    return metrics, facts


def _innermost(spans, t):
    """Id of the latest-starting span containing time t, or None."""
    best = None
    for s in spans:
        if s["start_us"] <= t <= s["end_us"] and (best is None or s["start_us"] >= best["start_us"]):
            best = s
    return best and best["id"]


def per_layer(out):
    """Per-layer metrics of a traced run: times are medians over the ops
    that have the layer, counts and bytes are means per op."""
    spans = out["spans"]
    ops = [o for o in out["ops"] if o["ok"]]
    n = max(1, len(ops))
    self_us = stats.self_times(spans)

    ends = {e["job"]: e["end_us"] for e in out["job_ends"]}
    jobs = sorted(({**j, "end_us": ends.get(j["job"], j["start_us"])} for j in out["jobs"]),
                  key=lambda j: j["job"])
    stage_job = {}
    for j in jobs:
        for st in j["stages"]:
            stage_job.setdefault(st, j["job"])
    per_job = {j["job"]: {"stages": 0, "tasks": 0, "task_ms": 0, "cpu_ns": 0,
                          "shuffle_bytes": 0, "spill_bytes": 0} for j in jobs}
    for st in out["stages"]:
        agg = per_job.get(stage_job.get(st["stage"]))
        if agg is not None:
            agg["stages"] += 1
            for k in ("tasks", "task_ms", "cpu_ns", "shuffle_bytes", "spill_bytes"):
                agg[k] += st[k]
    # a job belongs to the innermost span that tagged it; untagged jobs
    # (launched from threads the tag did not reach) go by start time
    jobs_of = {}
    for j in jobs:
        sid = max(j["spans"]) if j["spans"] else _innermost(spans, j["start_us"])
        if sid is not None:
            jobs_of.setdefault(sid, []).append(j)

    layer_spans = {}  # layer name -> spans of ok ops
    ok_ids = {o["id"] for o in ops}
    for s in spans:
        if s["op"] in ok_ids:
            layer_spans.setdefault(s["name"], []).append(s)

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    m = {}
    m["cypher.parse.s"] = stats.median([dur(s) for s in layer_spans.get("cypher.parse", [])])
    for layer in BUILD_LAYERS:
        ss = layer_spans.get(layer, [])
        job_s = [stats.covered((s["start_us"], s["end_us"]),
                               [(j["start_us"], j["end_us"]) for j in jobs_of.get(s["id"], [])]) / 1e6
                 for s in ss]
        m[f"{layer}.s"] = stats.median([dur(s) for s in ss])
        m[f"{layer}.jobs"] = sum(len(jobs_of.get(s["id"], [])) for s in ss) / max(1, len(ss))
        m[f"{layer}.job_s"] = stats.median(job_s)
        m[f"{layer}.driver_s"] = stats.median([dur(s) - js for s, js in zip(ss, job_s)])
    m["catalyst.optimize.s"] = stats.median([dur(s) for s in layer_spans.get("catalyst.optimize", [])])
    m["catalyst.plan.s"] = stats.median([dur(s) for s in layer_spans.get("catalyst.plan", [])])
    for k in ("plan_nodes", "exchanges", "smj", "broadcasts"):
        m[f"catalyst.{k}"] = sum(o[k] for o in ops) / n

    ex = layer_spans.get("exec", [])
    ex_jobs = [j for s in ex for j in jobs_of.get(s["id"], [])]
    tot = {k: sum(per_job[j["job"]][k] for j in ex_jobs)
           for k in ("stages", "tasks", "task_ms", "cpu_ns", "shuffle_bytes", "spill_bytes")}
    exec_s = sum(dur(s) for s in ex)
    m["exec.s"] = stats.median([dur(s) for s in ex])
    m["exec.jobs"] = len(ex_jobs) / n
    m["exec.stages"] = tot["stages"] / n
    m["exec.tasks"] = tot["tasks"] / n
    m["job.wall_s"] = stats.median([(j["end_us"] - j["start_us"]) / 1e6 for j in ex_jobs])
    m["exec.task_s"] = tot["task_ms"] / 1e3 / n
    m["exec.cpu_s"] = tot["cpu_ns"] / 1e9 / n
    m["exec.core_util"] = tot["task_ms"] / 1e3 / (exec_s * out["cores"]) if exec_s else 0.0
    m["exec.shuffle_bytes"] = tot["shuffle_bytes"] / n
    m["exec.spill_bytes"] = tot["spill_bytes"] / n
    m["exec.result_rows"] = sum(o["result_rows"] for o in ops) / n

    m["storage.bytes_written"] = sum(o["storage_bytes"] for o in ops) / n
    m["storage.files_written"] = sum(o["storage_files"] for o in ops) / n
    windows = [(o["start_us"], o["end_us"]) for o in ops]
    trig = [t for t in out["triggers"] if any(a <= t["start_us"] <= b for a, b in windows)]
    m["streaming.triggers"] = len(trig) / n
    m["streaming.trigger_s"] = stats.median([t["trigger_ms"] / 1e3 for t in trig])
    m["streaming.trigger_planning_s"] = stats.median([t["planning_ms"] / 1e3 for t in trig])

    m["jvm.gc_s"] = sum(o["gc_ms"] for o in ops) / 1e3 / n
    m["session.start_s"] = out["session_s"]
    m["warmup.s"] = out["warmup_s"]
    m["session.conf_mutations"] = sum(1 for o in out["ops"] if o.get("conf_changed"))
    roots = layer_spans.get("op", [])
    m["op.self_s"] = stats.median([self_us[s["id"]] / 1e6 for s in roots])
    m["op.unattributed_share"] = stats.median(
        [self_us[s["id"]] / max(1, s["end_us"] - s["start_us"]) for s in roots])
    return m
