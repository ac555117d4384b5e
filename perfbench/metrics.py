"""Metric arithmetic over one run's raw record (written by perfbench.Main).

Pure functions only, so the rules the benchmark reports by are unit-tested
in test_perfbench.py: the tail-percentile rule, self time over overlapping
child spans, and job classification by call site.
"""
import math
import statistics

# frames of the engine's runtime, skipped to find the code that caused a job
RUNTIME_PREFIXES = ("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with p% of samples at or
    below it."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def tail_percentile(n):
    """Highest whole percentile, at least 50, with at least ten samples
    beyond it. Below twenty samples no tail has ten beyond it, and the
    median is reported instead."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return 50


def latency_summary(seconds):
    """Median and tail of op latencies, with the tail's percentile and the
    sample count it rests on."""
    if not seconds:
        return None
    p = tail_percentile(len(seconds))
    return {"p50": percentile(seconds, 50), "tail": percentile(seconds, p),
            "tail_pct": p, "n": len(seconds)}


def union_ms(intervals, lo, hi):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer(name):
    return name.split(".", 1)[0]


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it its
    children cover (children may overlap each other)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_ms(children.get(s["id"], []), s["start"], s["end"])
        out[layer(s["name"])] = (out.get(layer(s["name"]), 0.0)
                                 + (s["end"] - s["start"]) - covered)
    return out


def first_caller(site):
    """First frame of a call site outside the engine's runtime."""
    for frame in site.splitlines():
        if not frame.startswith(RUNTIME_PREFIXES):
            return frame
    return ""


def classify(job, span_names):
    """Layer a job belongs to: a job whose caller is in graft/tables is a
    schema-inference job of `tables`; otherwise the benchmark span that
    submitted it decides; streaming micro-batch jobs carry no span."""
    if first_caller(job["site"]).startswith("graft.tables."):
        return "tables.infer"
    if job["streaming"]:
        return "streaming.job"
    parent = span_names.get(job["span"], "")
    if parent == "queries.build":
        return "queries.job"
    if parent.startswith("streaming."):
        return "streaming.job"
    return "exec.job"


def within(t, ops):
    """Id of the op whose interval holds time t, or -1."""
    for o in ops:
        if o["start"] <= t <= o["end"]:
            return o["id"]
    return -1


def build_spans(rec):
    """All spans of a traced run: the benchmark's own, one per job from the
    listener (parented to the submitting span, or by time to the enclosing
    streaming batch), the planner phases the listener read, and the sink's
    vacuum, seen at the file system."""
    bench = rec["spans"]
    spans = [dict(s) for s in bench]
    names = {s["id"]: s["name"] for s in bench}
    nxt = max([s["id"] for s in spans], default=-1) + 1
    ops = rec["ops"]

    def innermost(t0, t1, op):
        best = None
        for s in bench:
            if s["op"] == op and s["start"] <= t0 and t1 <= s["end"] and (
                    best is None or s["end"] - s["start"] < best["end"] - best["start"]):
                best = s
        return best["id"] if best else -1

    for j in rec["jobs"]:
        if math.isnan(j["end"]):  # never ended: the run failed mid-job
            continue
        op = j["op"] if j["op"] >= 0 else within(j["start"], ops)
        parent = j["span"] if j["span"] in names and not j["streaming"] else \
            innermost(j["start"], j["start"], op)
        spans.append({"id": nxt, "name": classify(j, names), "start": j["start"],
                      "end": j["end"], "parent": parent, "op": op, "job": j["id"]})
        nxt += 1
    for ph in rec["phases"]:
        op = within(ph["start"], ops)
        spans.append({"id": nxt, "name": "planner." + ph["phase"], "start": ph["start"],
                      "end": ph["end"], "parent": innermost(ph["start"], ph["end"], op),
                      "op": op})
        nxt += 1
    lock = None
    for ev in rec["fs_events"]:
        if ev["kind"] == "lock":
            lock = ev["time"]
        elif ev["kind"] == "unlock" and lock is not None:
            op = within(lock, ops)
            spans.append({"id": nxt, "name": "streaming.vacuum", "start": lock,
                          "end": ev["time"], "parent": innermost(lock, ev["time"], op),
                          "op": op})
            nxt += 1
            lock = None
    return spans


def end_to_end(rec, failed_ops):
    """End-to-end metrics of an untraced run, plus report-only figures."""
    ops = rec["ops"]
    lat = {k: [(o["end"] - o["start"]) / 1000 for o in ops if o["kind"] in k]
           for k in (("query", "read"), ("write",))}
    reads, writes = latency_summary(lat[("query", "read")]), latency_summary(lat[("write",)])
    m = {"setup_s": (rec["first_op"] - rec["jvm_start"] - rec["probe_ms"]) / 1000,
         "wall_s": statistics.median(rec["pass_ms"]) / 1000,
         "query_p50_s": reads["p50"], "query_tail_s": reads["tail"],
         "peak_rss_mb": rec["peak_rss_mb"]}
    extra = {"query_tail": reads, "ops_failed_frac": len(failed_ops) / len(ops),
             "ops_attempted": len(ops), "ops_failed": len(failed_ops)}
    if writes:
        up = rec["upsert"]
        extra.update({"write_p50_s": writes["p50"], "write_tail_s": writes["tail"],
                      "write_tail": writes,
                      "write_amplification": up["bytes_written"] / up["changelog_bytes"],
                      "space_amplification": up["live_bytes"] / up["final_bytes"]})
    return m, extra


def per_layer(rec, cores):
    """Per-layer metrics of a traced run. Counts and times are per pass of
    the workload's fixed work (totals over the timed passes divided by
    their number); medians and ratios are over all of them."""
    ops = rec["ops"]
    passes = len(rec["pass_ms"])
    spans = build_spans(rec)
    timed = [s for s in spans if s["op"] >= 0]
    jobs = [s for s in timed if "job" in s]
    job_rec = {j["id"]: j for j in rec["jobs"]}

    def durations(name):
        return [s["end"] - s["start"] for s in timed if s["name"] == name]

    def total(name):
        return sum(durations(name)) / passes

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def jsum(key, scale=1.0):
        return sum(job_rec[s["job"]][key] for s in jobs) * scale / passes

    infer = [s for s in jobs if s["name"] == "tables.infer"]
    query_ms = sum(o["end"] - o["start"] for o in ops if o["kind"] == "query") / passes
    build_ms = total("queries.build")
    stages = jsum("stages")
    tasks = jsum("tasks")
    task_s = jsum("task_ms", 1e-3)
    gap = 0.0
    for w in (s for s in timed if s["name"] == "exec.write"):
        gap += (w["end"] - w["start"]) - union_ms(
            [(j["start"], j["end"]) for j in jobs], w["start"], w["end"])
    prog = rec["progress"]
    up = rec.get("upsert") or {}
    reads = up.get("reads", [])
    mb = 1 / (1024 * 1024)
    selfs = self_times(timed)
    timed_s = sum(rec["pass_ms"]) / 1000
    m = {
        "session.start_s": rec["setup_ms"]["session.start"] / 1000,
        "session.warmup_s": rec["setup_ms"]["session.warmup"] / 1000,
        "tables.infer_jobs": len(infer) / passes,
        "tables.infer_ms": total("tables.infer"),
        "queries.build_ms": build_ms,
        "queries.build_jobs": sum(s["name"] == "queries.job" for s in jobs) / passes,
        "queries.build_share": build_ms / query_ms if query_ms else 0.0,
        "planner.analysis_ms": total("planner.analysis"),
        "planner.optimization_ms": total("planner.optimization"),
        "planner.planning_ms": total("planner.planning"),
        "exec.jobs": len(jobs) / passes,
        "exec.stages": stages,
        "exec.tasks": tasks,
        "exec.tasks_per_stage": tasks / stages if stages else 0.0,
        "exec.driver_gap_ms": gap / passes,
        "exec.task_s": task_s,
        "exec.cpu_s": jsum("cpu_ns", 1e-9),
        "exec.gc_s": jsum("gc_ms", 1e-3),
        "exec.busy_ratio": task_s * passes / (timed_s * cores),
        "exec.shuffle_write_mb": jsum("shuffle_write", mb),
        "exec.shuffle_read_mb": jsum("shuffle_read", mb),
        "exec.spill_mem_mb": jsum("spill_mem", mb),
        "exec.spill_disk_mb": jsum("spill_disk", mb),
        "exec.input_mb": jsum("input", mb),
        "exec.failed_tasks": jsum("failed_tasks"),
        "streaming.batches": len(prog) / passes,
        "streaming.trigger_ms": med([p["durationMs"].get("triggerExecution", 0) for p in prog]),
        "streaming.addbatch_ms": med([p["durationMs"].get("addBatch", 0) for p in prog]),
        "streaming.walcommit_ms": med([p["durationMs"].get("walCommit", 0) for p in prog]),
        "streaming.bytes_written": up.get("bytes_written", 0),
        "streaming.files_written": up.get("files_written", 0),
        "streaming.read_latest_ms": med(durations("streaming.read_latest")),
        "streaming.read_version_ms": med(durations("streaming.read_version")),
        "streaming.deltas_per_read": statistics.mean([r["deltas"] for r in reads]) if reads else 0.0,
        "streaming.vacuum_ms": total("streaming.vacuum"),
        "streaming.vacuum_deleted": up.get("versions_deleted", 0),
        "streaming.live_bytes": up.get("live_bytes", 0),
        "trace.wall_s": statistics.median(rec["pass_ms"]) / 1000,
        "trace.callback_ms": rec["callback_ms"],
    }
    for name in ("tables", "queries", "planner", "exec", "streaming", "op"):
        m[f"{name}.self_ms"] = selfs.get(name, 0.0) / passes
    return m, spans
