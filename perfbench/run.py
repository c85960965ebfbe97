#!/usr/bin/env python3
"""Benchmark entry point: builds the program from the checkout it is started
in (see build.py), runs one workload in its own JVM, checks the results
against DuckDB, and prints one JSON line with the metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. The exit code is 0 only when every check passed.
"""
import argparse
import datetime
import decimal
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside .bench_build
import build  # noqa: E402

WORKLOADS = ("olap_read", "lakehouse_dml", "cdc_stream", "corpus_prep")
JVM_TIMEOUT_S = 150  # a run normally needs 25-45 s; a hung JVM is killed after this
EPOCH = datetime.datetime(1970, 1, 1)


def norm(v):
    """A result value in the normal form both engines are compared in."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return float((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return float((v - EPOCH.date()).days)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    return str(v)


def column(vals):
    """One result column as a float array (NaN for NULL) when every value
    is numeric after normalization, else as an array of strings."""
    try:  # ints, floats, decimals and NULLs, the common case
        return np.array(vals, dtype=float)
    except (TypeError, ValueError):
        pass
    out = [norm(v) for v in vals]
    if all(x is None or isinstance(x, float) for x in out):
        return np.array([math.nan if x is None else x for x in out], dtype=float)
    return np.array([repr(x) for x in out], dtype=object)


def ordered(cols):
    """The columns with rows sorted by every column (floats compared at
    float32 precision, so engine rounding cannot reorder rows)."""
    keys = pd.DataFrame({k: c.astype(np.float32) if c.dtype.kind == "f" else c
                         for k, c in enumerate(cols)})
    idx = keys.sort_values(by=list(keys.columns), kind="mergesort").index.to_numpy()
    return [c[idx] for c in cols]


def compare(s_cols, s_rows, d_cols, d_rows):
    """None when the results agree (columns by name where the names agree,
    else by position; rows as multisets; floats to 1e-9), else a reason."""
    if len(s_cols) != len(d_cols):
        return f"columns {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"{len(s_rows)} rows vs {len(d_rows)}"
    if not s_rows:
        return None
    if sorted(s_cols) == sorted(d_cols) and len(set(s_cols)) == len(s_cols):
        si = [s_cols.index(c) for c in sorted(s_cols)]
        di = [d_cols.index(c) for c in sorted(d_cols)]
    else:
        si = di = list(range(len(s_cols)))
    s = ordered([column([r[i] for r in s_rows]) for i in si])
    d = ordered([column([r[i] for r in d_rows]) for i in di])
    for k, (x, y) in enumerate(zip(s, d)):
        if x.dtype.kind != y.dtype.kind:
            return f"column {s_cols[si[k]]}: {x[:3]} vs {y[:3]}"
        eq = (np.isclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True)
              if x.dtype.kind == "f" else x == y)
        if not eq.all():
            i = int(np.argmin(eq))
            return f"column {s_cols[si[k]]} row {i}: {x[i]!r} vs {y[i]!r}"
    return None


def duck(con, sql):
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description] if cur.description else []
    return cols, cur.fetchall()


def load(path):
    with open(path) as fh:
        r = json.load(fh)
    return r["columns"], r["rows"]


def check(res):
    """Oracle checks and DML replays; returns (failed ops, messages)."""
    import duckdb
    failed, msgs = 0, []
    views_seen = {}
    for c in res["checks"]:
        key = json.dumps(c["views"], sort_keys=True)
        if key not in views_seen:
            con = duckdb.connect()
            for t, p in c["views"].items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            views_seen[key] = (con, {})
        con, cache = views_seen[key]
        try:
            if c["oracle"] not in cache:
                cache[c["oracle"]] = duck(con, c["oracle"])
            why = compare(*load(c["result"]), *cache[c["oracle"]])
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {str(e)[:200]}"
        if why:
            failed += c["count"]
            msgs.append(f"{c['name']}: {why}")
    for e, rep in enumerate(res["replays"]):
        con = duckdb.connect()
        for t in rep["tables"]:
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{rep['src']}')")
        for i, st in enumerate(rep["steps"]):
            try:
                for q in st["duck"]:
                    out = duck(con, q)
                if st["result"] and st["ok"]:
                    why = compare(*load(st["result"]), *out)
                    if why:
                        failed += 1
                        msgs.append(f"epoch {e} step {i} ({st['kind']} {st['table']}): {why}")
            except Exception as ex:
                failed += 1
                msgs.append(f"epoch {e} step {i}: replay error {str(ex)[:200]}")
        for t, f in rep["finals"].items():
            why = compare(*load(f), *duck(con, f"SELECT * FROM {t}"))
            if why:
                failed += 1
                msgs.append(f"epoch {e} final {t}: {why}")
    return failed, msgs


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    try:
        jars = build.ensure()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    runs = os.path.join(build.OUT, "runs")
    run_dir = os.path.join(runs, f"{a.workload}-s{a.seed}-t{a.trace}")
    # keep the disk bounded: drop this run's old directory and any other
    # run directory untouched for an hour
    shutil.rmtree(run_dir, ignore_errors=True)
    for old in os.listdir(runs) if os.path.isdir(runs) else []:
        if time.time() - os.path.getmtime(os.path.join(runs, old)) > 3600:
            shutil.rmtree(os.path.join(runs, old), ignore_errors=True)
    data = os.path.join(build.OUT, "data")
    cmd = build.java_cmd(jars, run_dir, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(build.CORES),
        "--base", os.path.join(data, "base"), "--fixtures", os.path.join(data, "fix"),
        "--run", run_dir])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload timed out after {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"workload exited with {rc}; see {log}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        res = json.load(fh)
    t = time.time()
    bad, msgs = check(res)
    failed = res["failed"] + bad
    attempted = res["attempted"]
    metrics = res["metrics"]
    if a.trace:
        metrics["client.fail_ratio"] = failed / max(1, attempted)
    for m in msgs + res["errors"]:
        print(f"benchmark: FAIL {m}", file=sys.stderr)
    print(f"benchmark: checks took {time.time() - t:.1f} s; info {json.dumps(res['info'])}; "
          f"setup samples {res['setup_samples']}", file=sys.stderr)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        fail(f"metrics not produced: {missing}")
    correct = failed == 0 and not res["errors"]
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
