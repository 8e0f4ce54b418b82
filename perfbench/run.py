#!/usr/bin/env python3
"""The graft benchmark: one seeded workload, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload olap|corpus|ann_serve --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the library and the benchmark
(perfbench/build.py), generates the workload's inputs from the seed, sets up
several times, runs timed passes for at least S seconds, and checks every op:

  olap       TPC-H q1-q22 text; each warm-up result against DuckDB running the
             same SQL over the same files, each timed result against it.
  corpus     LLM-data entries; oracle SQL in DuckDB where the entry has one,
             planted-pair recall and the cluster invariants for d_cluster,
             the decode invariants for m_image_decode.
  ann_serve  recall@10 of every serve against AnnApi.bruteTopK over the
             corpus plus the appended rows; the store's row count.

The report lines name every metric with its unit, the failing ops, and the
run's provenance. The last line is one JSON object: correct, attempted,
failed, and the end-to-end metrics (--trace 0) or the per-layer metrics of
the traced passes (--trace 1). Full results and the spans of the last run
of each workload stay in .bench_build/perfbench/.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

import build

DEADLINE_S = 170
JAVA_OPTS = [
    "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xms3g", "-Xmx3g", "-Xss4m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def compare(spark_df, duck_df):
    """None when the frames hold the same rows. Doubles match to six
    significant digits (1e-6 relative): Spark and DuckDB sum in different
    orders, which can move a rounded total by one unit in its last place."""
    import numpy as np
    import pandas as pd

    def norm(df):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None) is not None:
                df[c] = df[c].dt.tz_convert(None)
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns), ignore_index=True)

    s, d = norm(spark_df), norm(duck_df)
    if list(s.columns) != list(d.columns):
        return "columns %s, DuckDB %s" % (list(s.columns), list(d.columns))
    if len(s) != len(d):
        return "%d rows, DuckDB %d" % (len(s), len(d))
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind in "fiu" and b.dtype.kind in "fiu":
            x, y = a.astype(float).to_numpy(), b.astype(float).to_numpy()
            same = (x == y) | (np.isnan(x) & np.isnan(y)) | \
                (np.abs(x - y) <= 1e-6 * np.maximum(1.0, np.abs(x)))
            if not same.all():
                i = int(np.argmin(same))
                return "%s row %d: %r, DuckDB %r" % (c, i, x[i], y[i])
        else:
            bad = a.astype(str).fillna("") != b.astype(str).fillna("")
            if bad.any():
                i = int(bad.idxmax())
                return "%s row %d: %r, DuckDB %r" % (c, i, a[i], b[i])
    return None


def oracle_failures(result, work):
    """Runs every oracle op's SQL in DuckDB over the generated tables and
    compares it with the op's warm-up result."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for d in glob.glob(os.path.join(result["data_dir"], "*.parquet")):
        name = os.path.basename(d)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')" % (name, d))
    bad = {}
    for op, sql in sorted(result["oracle"].items()):
        try:
            got = pd.read_parquet(os.path.join(work, "ref", op))
            why = compare(got, con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            why = "oracle check error: %s" % e
        if why:
            bad[op] = why
    return bad


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def contaminated(host):
    """Another JVM at start or end, CPU pressure before the run began (the
    end sample includes this run's own load on every core), or more than 5%
    of the run's CPU time stolen by the hypervisor for other guests."""
    return float(host["start"].get("cpu_pressure_avg60", 0)) > 5 or host["steal_share"] > 0.05 or \
        any(int(h.get("java_procs", 0)) > 0 for h in (host["start"], host["end"]))


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["olap", "corpus", "ann_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))

    classes, digest = build.build()
    started = time.time()  # a first run may also build; the limit is for the run
    cpus = len(os.sched_getaffinity(0))
    work = os.path.abspath(os.path.join(build.OUT, "work-%s-%d" % (a.workload, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    log = os.path.join(work, "jvm.log")
    try:
        cmd = ["java"] + JAVA_OPTS + [
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.local.dir=" + os.path.join(work, "local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", build.classpath(os.path.abspath(classes)), "graft.perfbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), work, str(cpus)]
        budget = DEADLINE_S - (time.time() - started)
        steal0, total0 = cpu_ticks()
        with open(log, "w") as fh:
            proc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=max(budget, 30))
        steal1, total1 = cpu_ticks()
        if proc.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit("perfbench: the benchmark JVM failed (exit %d)" % proc.returncode)
        result = json.load(open(os.path.join(work, "result.json")))
        result["host"]["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

        bad = oracle_failures(result, work)
        failures = result["failures"]
        already = {(f["op"], f["pass"]) for f in failures}
        for op, why in bad.items():
            # the check ran on the warm-up result, which every timed
            # execution of the op matched or already failed against
            failures += [{"op": op, "pass": None, "reason": "DuckDB: " + why}] * (
                result["executions"].get(op, 0) - sum(1 for o, _ in already if o == op))
        attempted, failed = result["attempted"], len(failures)

        result.update(commit=commit(), source_sha256=digest, contaminated=contaminated(result["host"]),
                      failures=failures, failed=failed)
        os.makedirs(build.OUT, exist_ok=True)
        with open(os.path.join(build.OUT, "last_%s.json" % a.workload), "w") as fh:
            json.dump(result, fh, indent=1)
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(build.OUT, "last_%s_spans.jsonl" % a.workload))

        print("workload %s seed %d nproc %d commit %s sources %s" % (
            a.workload, a.seed, cpus, result["commit"], digest))
        print("sizes %s" % json.dumps(result["sizes"], sort_keys=True))
        print("host start %s end %s steal %.1f%%%s" % (
            json.dumps(result["host"]["start"]), json.dumps(result["host"]["end"]), 100 * result["host"]["steal_share"],
            "  CONTAMINATED (cpu pressure > 5, steal > 5% or another JVM)" if result["contaminated"] else ""))
        print("setup walls %s, milestones %s" % (json.dumps(result["setup_walls"]), json.dumps(result["milestones_s"])))
        tail = result["tail_percentile"]
        print("passes %d, latency samples %d, %s" % (
            result["passes"], result["latency_samples"],
            "op_tail_s is p%.1f" % tail if tail is not None else "too few for op_tail_s (21)"))
        for name, m in list(result["end_to_end"].items()) + list(result["per_layer"].items()):
            value = "n/a" if m["value"] is None else "%.6g" % m["value"]
            print("  %-30s %14s %s" % (name, value, m["unit"]))
        print("  %-30s %14.6g ratio  (%d failed of %d attempted)" % (
            "error_rate", failed / max(1, attempted), failed, attempted))
        for f in failures:
            print("  FAILED %s pass %s: %s" % (f["op"], f["pass"], f["reason"]))
        if a.trace:
            cov = result["per_layer"]["self.coverage"]["value"]
            print("  layer self times cover %.1f%% of op wall%s" % (100 * cov, "" if cov >= 0.95 else " (BELOW 95%)"))

        section = "per_layer" if a.trace else "end_to_end"
        metrics = {}
        for m in spec[section]:
            v = result[section].get(m["name"])
            if v is None or v["value"] is None:
                raise SystemExit("perfbench: metric %s was not measured" % m["name"])
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
