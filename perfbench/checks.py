"""Output checks of one run, made after the timed region.

- Declared queries: the run dumps every third query of its workload (by
  the seed's offset) as graft.Verify does, and `tools/check.py` compares them with the DuckDB
  oracle (queries with no oracle twin must return rows).
- upsert_stream: the final table and the dumped time-travel versions must
  equal an independent latest-per-key fold over the generated change log.
"""
import os
import re
import subprocess
import sys

import pandas as pd

LINE = re.compile(r"^(PASS|FAIL) (\S+?):?(\s|$)")


def failed_queries(check_output, names):
    """Names that tools/check.py failed or did not report as passed."""
    passed = set()
    failed = set()
    for line in check_output.splitlines():
        m = LINE.match(line)
        if m:
            (passed if m.group(1) == "PASS" else failed).add(m.group(2))
    return sorted(failed | (set(names) - passed))


def run_check_py(root, sf_dir, dump_dir, names, timeout):
    """Runs tools/check.py as it is; returns (failed names, its output)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check.py"), sf_dir, dump_dir, *names],
        cwd=root, capture_output=True, text=True, timeout=timeout)
    out = proc.stdout + proc.stderr
    return failed_queries(out, names), out


def fold(log, rows_per_batch, version):
    """Latest row per key after batches 0..version, by the sink's rule: a
    later batch replaces a key's row; within a batch the row with the
    greatest (ts, event_id) wins."""
    batch = log["event_id"] // rows_per_batch
    upto = log[batch <= version].assign(_batch=batch)
    latest = upto.sort_values(["_batch", "ts", "event_id"]).groupby("user_id").tail(1)
    return latest.drop(columns="_batch")


def canonical(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values("user_id").reset_index(drop=True)


def upsert_mismatches(log, rows_per_batch, tables):
    """Versions whose table differs from the fold; `tables` maps a version
    id to the table read at that version."""
    bad = []
    for version, got in sorted(tables.items()):
        want = fold(log, rows_per_batch, version)
        if not canonical(got).equals(canonical(want)):
            bad.append(version)
    return bad


def check_upsert(out_dir, up):
    """Reads the run's change log and dumps; returns the mismatched
    versions, the final table's version included."""
    log = pd.read_parquet(os.path.join(out_dir, "changelog"))
    dump = os.path.join(out_dir, "dump")
    tables = {v: pd.read_parquet(os.path.join(dump, f"v{v}")) for v in up["versions_checked"]}
    tables[up["last_batch"]] = pd.read_parquet(os.path.join(dump, "final"))
    return upsert_mismatches(log, up["shape"]["rows_per_batch"], tables)
