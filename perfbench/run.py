#!/usr/bin/env python3
"""Benchmark of the graft engine, end to end and layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (cached by a hash of the
sources under .bench_build/) and runs one workload in one JVM as a closed
loop with one client on local[N] (N = min(4, usable cores), shuffle
partitions = N). Set-up ends with one untimed warm-up pass of the
workload's fixed work; then whole timed passes run until --seconds have
gone by, at least one. It checks the outputs and prints a report followed
by one JSON line: with --trace 0 the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run (whose span file goes to
.bench_build/traces/).

The fixtures are the read-only sf0.1 tables, found at $GRAFT_BENCH_SF_DIR
or ~/testdata/sf0.1. Exit codes: 0 correct, 1 an op or output check
failed, 2 the benchmark could not run (nothing is printed on stdout).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("heavy_operators", "short_queries", "upsert_stream")
# The parallel collector with fixed generation sizes, and two malloc arenas:
# G1 sizes eden from pause times and scatters regions over the heap, which
# made the peak resident set of the same work vary by 1.8x from run to run.
# The heap is committed whole (-Xms = -Xmx): without adaptive sizing a heap
# that starts small never grows, and on a 0.45 GB heap a pass of
# short_queries ran a 0.15-0.28 s full collection every 1-2 s, on whichever
# op happened to be running. Metaspace starts large for the same reason.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:MetaspaceSize=256m",
              "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
# a run, after the build, ends within this many seconds or fails; the
# heavy_operators workload, run by hand only, gets longer
RUN_DEADLINE_S = {"heavy_operators": 600}
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
SOURCES = ("src/main", "build.sbt", "project/build.properties", "project/plugins.sbt",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_tail_s": "s",
             "peak_rss_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha1()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tree_id(stamp):
    """The source tree as graft.Bench names it (git trees of src and
    build.sbt, '+dirty' when modified); outside a git checkout, the hash of
    the sources."""
    try:
        src = subprocess.run(["git", "rev-parse", "HEAD:src", "HEAD:build.sbt"], cwd=ROOT,
                             capture_output=True, text=True, check=True).stdout.split()
        dirty = subprocess.run(["git", "status", "--porcelain", "--", "src", "build.sbt",
                                "project"], cwd=ROOT, capture_output=True, text=True,
                               check=True).stdout.strip()
        return "-".join(src) + ("+dirty" if dirty else "")
    except (OSError, subprocess.CalledProcessError):
        return "sha1:" + stamp


def build(stamp):
    """Compiles the engine and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export Runtime/fullClasspath"],
                          cwd=HERE, capture_output=True, text=True, timeout=840)
    classes = os.path.join(HERE, "target")
    lines = [l for l in proc.stdout.splitlines() if l.startswith(classes)]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_share", "_ratio")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found: run from the root of a checkout")
    sf_dir = os.environ.get("GRAFT_BENCH_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"fixtures not found under {sf_dir}")
    stamp = source_hash()
    cp = build(stamp)
    deadline = time.monotonic() + RUN_DEADLINE_S.get(a.workload, 170)

    cores = min(4, len(os.sched_getaffinity(0)))
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JVM_MEMORY, *ADD_OPENS, f"-Djava.io.tmpdir={out}/tmp", "-cp", cp,
           "perfbench.Main", a.workload, str(a.seed), str(a.trace), sf_dir, out, str(cores),
           str(a.seconds)]
    try:
        with open(os.path.join(out, "jvm.log"), "w") as log:
            proc = subprocess.run(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=deadline - time.monotonic(),
                                  env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        ok = proc.returncode == 0 and os.path.exists(os.path.join(out, "run.json"))
        if not ok:
            with open(os.path.join(out, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"benchmark JVM exited with {proc.returncode}")
        with open(os.path.join(out, "run.json")) as fh:
            rec = json.load(fh)
        report, result = evaluate(a, rec, out, sf_dir, cores, stamp,
                                  max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired as e:
        fail(f"timed out after {e.timeout:.0f} s: {os.path.basename(e.cmd[0])}")
    finally:
        shutil.rmtree(out, ignore_errors=True)
    print("\n".join(report))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def evaluate(a, rec, out, sf_dir, cores, stamp, check_timeout):
    """Checks the outputs and turns the raw record into the report lines and
    the result object."""
    ops = rec["ops"]
    failed = {o["id"] for o in ops if not o["ok"]}
    report = []
    check0 = time.monotonic()
    if rec["checked"]:
        bad, text = checks.run_check_py(ROOT, sf_dir, os.path.join(out, "dump"),
                                        rec["checked"], check_timeout)
        failed |= {o["id"] for o in ops if o["name"] in bad}
        report.append(f"check oracle: {len(rec['checked']) - len(bad)} of "
                      f"{len(rec['checked'])} queries pass ({' '.join(rec['checked'])})")
        if bad:
            sys.stderr.write(text)
    up = rec["upsert"]
    if up:
        up["changelog_bytes"] = dir_bytes(os.path.join(out, "changelog"))
        up["final_bytes"] = dir_bytes(os.path.join(out, "dump", "final"))
        bad = checks.check_upsert(out, up)
        failed |= {o["id"] for o in ops if o["kind"] == "write" and int(o["name"][5:]) in bad}
        report.append(f"check fold: {len(up['versions_checked']) + 1 - len(bad)} of "
                      f"{len(up['versions_checked']) + 1} table versions match the "
                      f"latest-per-key fold of the change log")

    report.append(f"time {len(rec['pass_ms'])} timed passes of "
                  f"{' '.join(f'{p / 1000:.2f}' for p in rec['pass_ms'])} s; "
                  f"upsert dumps {rec['dump_ms'] / 1000:.1f} s, "
                  f"checks {time.monotonic() - check0:.1f} s (outside the timed region)")
    ident = dict(rec["identity"], tree=tree_id(stamp), jvm=" ".join(JVM_MEMORY))
    report.insert(0, "identity " + json.dumps(ident, sort_keys=True))
    e2e, extra = metrics.end_to_end(rec, failed)
    tag = " (traced)" if a.trace else ""
    for k, v in e2e.items():
        note = ""
        if k == "query_tail_s":
            q = extra["query_tail"]
            note = f" (p{q['tail_pct']} of {q['n']} samples)"
        report.append(f"metric {k} = {v:.6g} {E2E_UNITS[k]}{note}{tag}")
    report.append(f"metric ops_failed_frac = {extra['ops_failed_frac']:.6g} ratio "
                  f"({extra['ops_failed']} of {extra['ops_attempted']} ops){tag}")
    if "write_tail" in extra:
        w = extra["write_tail"]
        report.append(f"metric write_p50_s = {extra['write_p50_s']:.6g} s{tag}")
        report.append(f"metric write_tail_s = {extra['write_tail_s']:.6g} s "
                      f"(p{w['tail_pct']} of {w['n']} samples){tag}")
        report.append(f"metric write_amplification = {extra['write_amplification']:.6g} "
                      f"ratio ({up['bytes_written']} of {up['changelog_bytes']} bytes)")
        report.append(f"metric space_amplification = {extra['space_amplification']:.6g} "
                      f"ratio ({up['live_bytes']} of {up['final_bytes']} bytes)")

    if a.trace:
        values, spans = metrics.per_layer(rec, cores)
        units = {k: unit(k) for k in values}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"identity": ident, "ops": ops, "spans": spans,
                       "self_ms": {k: v for k, v in values.items() if k.endswith("self_ms")}},
                      fh)
        report.append(f"trace {len(spans)} spans -> {os.path.relpath(trace_path, ROOT)}")
        report.extend(f"layer {k} = {v:.6g} {units[k]}" for k, v in values.items())
    else:
        values, units = e2e, E2E_UNITS
    result = {"correct": not failed, "attempted": len(ops), "failed": len(failed),
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    return report, result


if __name__ == "__main__":
    main()
