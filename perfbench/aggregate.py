"""Turns one raw run record (written by perfbench.Main) into the
benchmark's metrics. The JVM keeps raw records only (the op log, Spark
jobs, per-op task sums, planning phases, streaming progress, spans);
every figure is derived here: end-to-end figures from the op log,
per-layer figures from the listener records, and each layer's self time
from the span tree."""
import json
import math
import statistics
from datetime import datetime

# Span layers. A span belongs to the layer its name equals or starts
# with followed by a dot.
LAYERS = [
    "sources.scan.plan", "sources.scan.exec", "sources.commit",
    "sources.maintenance", "streaming.batch", "planning", "spark.job",
    "workload", "op",
]
# Ops that commit to a lake table; a dialogue_stream batch ends in one
# epoch commit of the sink.
COMMITS = {"append", "merge", "merge_mor", "delete", "delete_mor", "update", "overwrite", "batch"}
COMMIT_KINDS = ["append", "merge", "merge_mor", "delete", "delete_mor", "update", "overwrite"]
TASK_FIELDS = ["task_ms", "task_cpu_ms", "task_gc_ms", "task_overhead_ms", "input_bytes",
               "shuffle_read_bytes", "shuffle_write_bytes", "output_bytes", "spill_bytes"]
STREAM_DURATIONS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                    "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
                    "latest_offset_ms": "latestOffset", "get_batch_ms": "getBatch"}


def layer_of(name):
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            return layer
    return None


def union_ms(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is not None and s <= cur_e:
            cur_e = max(cur_e, e)
        else:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time per layer: each span's duration minus the part of its
    interval that its children cover. `spans` holds
    [id, parent, name, op, start_ms, end_ms] rows."""
    children = {}
    for sid, parent, name, op, start, end in spans:
        children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, parent, name, op, start, end in spans:
        layer = layer_of(name)
        if layer is None:
            continue
        own = (end - start) - union_ms(children.get(sid, []), start, end)
        out[layer] = out.get(layer, 0.0) + max(0.0, own)
    return out


def job_time(spans):
    """Per op: (op span length, the part of it some Spark job covers)."""
    jobs = {}
    for sid, parent, name, op, start, end in spans:
        if name == "spark.job":
            jobs.setdefault(op, []).append((start, end))
    return [(end - start, union_ms(jobs.get(op, []), start, end))
            for sid, parent, name, op, start, end in spans if name == "op"]


def p90(values):
    """Nearest-rank 90th percentile: a measured sample, never an interpolation."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(0.9 * len(ordered)) - 1)]


def mean(values):
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def ms(op):
    return op["end"] - op["start"]


def op_at(ops, t, slack_after=0.0):
    """The op whose interval holds time `t` (1 ms of clock slack before)."""
    for o in ops:
        if o["start"] - 1 <= t <= o["end"] + slack_after:
            return o
    return None


def batches(raw):
    """Streaming micro-batches that ran inside a timed op, as
    (progress, op, start_ms, end_ms). `raw["progress"]` holds Spark's
    progress reports as JSON text."""
    out = []
    for text in raw["progress"]:
        p = json.loads(text)
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1e3
        o = op_at(raw["ops"], start)
        if o is not None:
            out.append((p, o, start, start + p["durationMs"].get("triggerExecution", 0)))
    return out


def span_tree(raw):
    """The run's spans: the benchmark's own, plus streaming batches, Spark
    jobs and planning phases, each hung under its parent."""
    ids = {o["id"] for o in raw["ops"]}
    own = [s for s in raw["spans"] if s[3] in ids or s[2] == "workload"]
    next_id = max([s[0] for s in raw["spans"]], default=0) + 1
    op_span = {s[3]: s[0] for s in own if s[2] == "op"}
    out = list(own)
    batch_span = {}
    for p, o, start, end in batches(raw):
        batch_span[p["batchId"]] = next_id
        out.append([next_id, op_span.get(o["id"], -1), "streaming.batch", o["id"], start, end])
        next_id += 1
    for j in raw["jobs"]:
        if j["op"] in ids:
            parent = batch_span.get(j["batch"], -1) if j["batch"] >= 0 else j["parent"]
            out.append([next_id, parent, "spark.job", j["op"], j["start"], j["end"]])
            next_id += 1
    for start, end, phase in raw["phases"]:
        o = op_at(raw["ops"], start, slack_after=1)
        if o is None:
            continue
        # the innermost benchmark span of the op holding the phase start
        holders = [s for s in own if s[3] == o["id"] and s[4] <= start + 1 and s[5] >= start]
        parent = min(holders, key=lambda s: s[5] - s[4])[0] if holders else -1
        out.append([next_id, parent, f"planning.{phase}", o["id"], start, end])
        next_id += 1
    return out


def end_to_end(raw):
    ops = raw["ops"]
    op_s = sum(ms(o) for o in ops) / 1e3
    n = len(ops)
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "op_p50_ms": statistics.median(ms(o) for o in ops),
        "ops_per_s": n / op_s,
        "rows_per_s": sum(o["rows"] for o in ops) / op_s,
        "cpu_ms_per_op": sum(o["cpu_ms"] for o in ops) / n,
        "live_heap_mb": raw["live_heap_mb"],
    }


def spark_layer(raw, n):
    ids = {o["id"] for o in raw["ops"]}
    jobs = [j for j in raw["jobs"] if j["op"] in ids]
    sums = [t for op, t in raw["tasks"].items() if int(op) in ids]
    tasks = sum(t["tasks"] for t in sums)
    out = {f"spark.{f}": sum(t[f] for t in sums) / n for f in TASK_FIELDS}
    out.update({
        "spark.jobs": len(jobs) / n,
        "spark.stages": sum(j["stages"] for j in jobs) / n,
        "spark.tasks": tasks / n,
        "spark.empty_task_ratio": sum(t["empty_tasks"] for t in sums) / tasks if tasks else 0.0,
        "spark.failed_tasks": sum(t["failed_tasks"] for t in sums),
    })
    return out


def planning_layer(raw, n):
    phase_ms = {}
    for start, end, phase in raw["phases"]:
        if op_at(raw["ops"], start, slack_after=1) is not None:
            phase_ms[phase] = phase_ms.get(phase, 0.0) + end - start
    return {
        "planning.analysis_ms": phase_ms.get("analysis", 0.0) / n,
        "planning.optimization_ms": phase_ms.get("optimization", 0.0) / n,
        "planning.physical_ms": phase_ms.get("planning", 0.0) / n,
        "planning.executions":
            sum(1 for t in raw["executions"] if op_at(raw["ops"], t, slack_after=1)) / n,
    }


def sources_layer(raw):
    ops = raw["ops"]
    of = lambda kinds: [o for o in ops if o["kind"] in kinds]  # noqa: E731
    out = {f"sources.commit.{k}_ms": mean(ms(o) for o in of({k})) for k in COMMIT_KINDS}
    commits = of(COMMITS)
    commit_ids = {o["id"] for o in commits}
    out["sources.commit.jobs_per_commit"] = (
        sum(1 for j in raw["jobs"] if j["op"] in commit_ids) / len(commits) if commits else 0.0)
    out["sources.commit.metadata_bytes_per_commit"] = mean(o["info"]["meta_bytes"] for o in commits)
    out["sources.commit.data_files_per_commit"] = mean(o["info"]["data_files"] for o in commits)
    out["sources.maintenance.compact_ms"] = mean(ms(o) for o in of({"compact"}))
    out["sources.maintenance.expire_ms"] = mean(ms(o) for o in of({"expire"}))
    out["sources.maintenance.bytes_rewritten"] = mean(o["info"]["data_bytes"] for o in of({"compact"}))
    out["sources.maintenance.files_removed"] = mean(o["info"]["files_removed"] for o in of({"expire"}))

    reads = [o for o in ops if "plan_ms" in o["info"]]
    info = lambda k: [o["info"][k] for o in reads]  # noqa: E731
    records = sum(raw["tasks"].get(str(o["id"]), {}).get("input_records", 0) for o in reads)
    returned = sum(o["rows"] for o in reads)
    out.update({
        "sources.scan.plan_ms": mean(info("plan_ms")),
        "sources.scan.exec_ms": mean(info("exec_ms")),
        "sources.scan.files_read": mean(info("files_read")),
        "sources.scan.files_total": mean(info("files_total")),
        "sources.scan.skip_ratio":
            1 - sum(info("files_read")) / sum(info("files_total")) if sum(info("files_total")) else 0.0,
        "sources.scan.rows_read_per_row_returned": records / returned if returned else 0.0,
        "sources.scan.delete_files_applied": mean(info("delete_files_applied")),
        "sources.scan.lifted_reads": sum(info("lifted")),
    })
    return out


def streaming_layer(raw):
    fed = [p for p, _, _, _ in batches(raw) if p["numInputRows"] > 0]
    out = {f"streaming.{k}": mean(p["durationMs"].get(d, 0) for p in fed)
           for k, d in STREAM_DURATIONS.items()}
    out["streaming.state_commit_ms"] = mean(
        sum(s["commitTimeMs"] for s in p["stateOperators"]) for p in fed)
    out["streaming.input_rows_per_batch"] = mean(p["numInputRows"] for p in fed)
    if fed:
        out["streaming.state_rows"] = sum(s["numRowsTotal"] for s in fed[-1]["stateOperators"])
        out["streaming.state_memory_bytes"] = sum(s["memoryUsedBytes"] for s in fed[-1]["stateOperators"])
    return out


def per_layer(raw):
    ops = raw["ops"]
    n = len(ops)
    out = dict(raw["layer"])
    out.update(spark_layer(raw, n))
    out.update(planning_layer(raw, n))
    out.update(sources_layer(raw))
    out.update(streaming_layer(raw))
    out["jvm.gc_ms"] = sum(o["gc_ms"] for o in ops) / n
    out["jvm.disk_read_bytes"] = sum(o["disk_read_bytes"] for o in ops) / n
    out["jvm.process_cpu_ms"] = sum(o["cpu_ms"] for o in ops) / n
    out["error_rate"] = failed(raw) / n
    out["space_amp"] = raw["space_amp"]
    out["traced.op_p50_ms"] = statistics.median(ms(o) for o in ops)
    out["traced.op_p90_ms"] = p90([ms(o) for o in ops])
    spans = span_tree(raw)
    per_op = job_time(spans)
    out["spark.job_ms"] = sum(j for _, j in per_op) / n
    out["spark.driver_gap_ms"] = sum(t - j for t, j in per_op) / n
    for layer, t in self_times(spans).items():
        out[f"self.{layer}_ms"] = t / n
    return out


def failed(raw):
    return sum(1 for o in raw["ops"] if o["error"] is not None)


def result(raw, spec):
    """The run's result object: every end-to-end metric of `spec` for an
    untraced run, every per-layer metric for a traced one. A per-layer
    metric the workload does not exercise reads 0."""
    if raw["tracing"]:
        values, wanted = per_layer(raw), spec["per_layer"]
    else:
        values, wanted = end_to_end(raw), spec["end_to_end"]
    n_failed = failed(raw)
    return {
        "correct": n_failed == 0,
        "attempted": len(raw["ops"]),
        "failed": n_failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }
