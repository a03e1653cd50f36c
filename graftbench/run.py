"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness (graftbench/build.py), generates the seed's
inputs (graftbench/gen.py), runs the workload in one JVM at local[N] with
N = the machine's cores, checks the outputs, and prints the result as the
last line of stdout. See graftbench/README.md for the metrics.
"""
import argparse
import json
import os
import shutil
import statistics
from statistics import median
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(".bench_build", "graftbench")
HEAP = "2g"          # fixed JVM heap (initial = max), stamped in every record
SETUPS = 3           # set-ups per run; setup_s counts their median
KEEP_DATA = 3        # generated seeds kept per workload
JVM_TIMEOUT_S = 165
RECALL_FLOOR = 0.80  # recall@10 against the seed's brute-force truth

WORKLOADS = ("corpus_prep", "serving")
END_TO_END = {  # name -> unit
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "build_s": "s",
    "query_p50_ms": "ms", "churn_query_ms": "ms", "write_ms": "ms",
    "bytes_stored_per_input_byte": "ratio", "peak_rss_mb": "MiB",
}
LAYERS = ["sources", "ops.Text", "ops.Dedup", "ops.Similarity", "ops.Relational",
          "ops.Events", "streaming", "plans"]
LAYER_FIELDS = {  # field -> unit
    "busy_s": "s", "self_s": "s", "plan_ms": "ms", "jobs": "count", "stages": "count",
    "tasks": "count", "single_task_stages": "count", "task_cpu_s": "s",
    "cpu_util": "ratio", "shuffle_write_mb": "MiB", "shuffle_read_mb": "MiB",
    "spill_mb": "MiB", "gc_s": "s", "failed_tasks": "count",
}
PER_LAYER_EXTRA = {
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "sources.commit_ms": "ms", "ops.Dedup.candidate_precision": "ratio",
    "ops.Similarity.rows_scored_per_result": "ratio",
    "ops.Similarity.recall_at_10": "ratio",
    "streaming.batch_ms": "ms", "trace.overhead_s": "s",
}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def data_dir(workload, seed):
    base = os.path.join(BUILD_DIR, "data")
    os.makedirs(base, exist_ok=True)
    out = os.path.join(base, f"{workload}-{seed}")
    man = gen.generate(workload, seed, out)
    os.utime(out)
    mine = sorted((d for d in os.listdir(base) if d.startswith(workload + "-")
                   and not d.endswith(".tmp")),
                  key=lambda d: os.path.getmtime(os.path.join(base, d)))
    for old in mine[:-KEEP_DATA]:
        shutil.rmtree(os.path.join(base, old), ignore_errors=True)
    return out, man


def run_jvm(classes, workload, seed, seconds, trace, data, work):
    jars = os.path.join(build.spark_jars(), "*")
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", data, "--work", work, "--out", out,
              "--setups", str(SETUPS)])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("graftbench: workload timed out")
    if code != 0 or not os.path.exists(out):
        sys.exit(f"graftbench: JVM exited with {code}")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------- DuckDB checks

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def analytics_checks(rec, data, work):
    """Compare each call's first-iteration output with a DuckDB
    recomputation over the same parquet. Returns {name: error} for the
    calls that differ."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isdir(p):  # events: a directory the streaming replay reads
            p = os.path.join(p, "*.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = dict(rec["workload_summary"]["oracle_sql"])
    # append mode emits a window once the watermark (max ts - 2 h) has
    # passed its end
    oracles["tumbling"] = """
        SELECT CAST(epoch(h) AS BIGINT) AS hour_ts, event_type, n_events, sum_value FROM (
          SELECT time_bucket(INTERVAL 1 hour, ts) AS h, event_type,
                 count(*) AS n_events, sum(value) AS sum_value
          FROM events GROUP BY 1, 2)
        WHERE h + INTERVAL 1 hour <= (SELECT max(ts) FROM events) - INTERVAL 2 hour"""
    oracles["churn_topk"] = f"""
        SELECT user_id, event_id, value, CAST(rn AS INTEGER) AS rn FROM (
          SELECT user_id, event_id, value, row_number() OVER (
            PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
          FROM '{data}/event_batch.parquet') WHERE rn <= 3"""
    bad = {}
    for name, sql in oracles.items():
        path = os.path.join(work, "check", name)
        try:
            got = pd.read_parquet(path)
            want = con.sql(sql).df()
        except Exception as e:  # a missing output is a failure too
            bad[name] = f"{type(e).__name__}: {e}"
            continue
        g, w = _norm(got), _norm(want)
        if list(g.columns) != list(w.columns):
            bad[name] = f"columns {list(g.columns)} vs {list(w.columns)}"
        elif len(g) != len(w):
            bad[name] = f"rows {len(g)} vs {len(w)}"
        elif not g.equals(w):
            bad[name] = f"{int((g != w).any(axis=1).sum())} rows differ"
    return bad


# ------------------------------------------------------------- metrics

def by_name(rec, kind):
    """Measured seconds of the operations of one kind, per operation name."""
    out = {}
    for k, name, d in rec["measured"]:
        if k == kind:
            out.setdefault(name, []).append(d)
    return out


def end_to_end(rec):
    wall = median(rec["iter_s"])

    def per_op(kind):  # mean over the kind's operations of each one's median
        return statistics.fmean(median(v) for v in by_name(rec, kind).values())
    v = {
        "setup_s": median(rec["setup_s"]) + rec["cold_iteration_s"],
        "wall_s": wall,
        "rows_per_s": rec["rows_per_iteration"] / wall,
        "build_s": sum(median(v) for v in by_name(rec, "build").values()),
        "query_p50_ms": 1000 * median(rec["samples"]["measure.request"]),
        "churn_query_ms": 1000 * per_op("churn_request"),
        "write_ms": 1000 * per_op("commit"),
        "bytes_stored_per_input_byte": median(rec["stored_bytes"]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    return {k: {"value": v[k], "unit": u} for k, u in END_TO_END.items()}


def per_layer(rec):
    layers = rec["layers"]
    extras = {k: statistics.fmean(v) for k, v in rec["extras"].items() if v}
    summ = rec["workload_summary"]
    v = {}
    for layer in LAYERS:
        for f, u in LAYER_FIELDS.items():
            v[f"{layer}.{f}"] = (layers.get(f"{layer}.{f}", 0.0), u)
    v["sources.files_written"] = (layers.get("sources.files_written", 0.0), "count")
    v["sources.bytes_written"] = (layers.get("sources.bytes_written", 0.0), "bytes")
    v["sources.commit_ms"] = (extras.get("sources.commit_ms", 0.0), "ms")
    for k in ("ops.Dedup.candidate_precision", "ops.Similarity.rows_scored_per_result",
              "streaming.batch_ms"):
        v[k] = (extras.get(k, 0.0), PER_LAYER_EXTRA[k])
    v["ops.Similarity.recall_at_10"] = (summ.get("recall_at_10", 0.0), "ratio")
    traced, untraced = rec["traced_iter_s"], rec["iter_s"]
    v["trace.overhead_s"] = (median(traced) - median(untraced) if traced and untraced else 0.0, "s")
    return {k: {"value": x, "unit": u} for k, (x, u) in v.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.time()
    classes = build.build(BUILD_DIR)
    log(f"build ready in {time.time() - t0:.1f}s")
    t1 = time.time()
    data, man = data_dir(a.workload, a.seed)
    data = os.path.abspath(data)
    log(f"inputs for seed {a.seed} ready in {time.time() - t1:.1f}s")
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t2 = time.time()
        rec = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, data, work)
        log(f"JVM done in {time.time() - t2:.1f}s")
        t3 = time.time()
        failed = rec["failed"]
        failures = list(rec["failures"])
        if a.workload == "serving":
            for name, err in analytics_checks(rec, data, work).items():
                failures.append(f"{name}: {err}")
                failed += max(1, rec["attempts_by_name"].get(name, 0))
            r = rec["workload_summary"]["recall_at_10"]
            if r < RECALL_FLOOR:  # every request of the run counts as failed
                failures.append(f"recall_at_10 {r:.4f} below floor {RECALL_FLOOR}")
                failed += rec["attempts_by_name"].get("request", 1)
        log(f"checks done in {time.time() - t3:.1f}s")
        if a.trace:
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                os.makedirs(os.path.join(BUILD_DIR, "traces"), exist_ok=True)
                shutil.copy(spans, os.path.join(BUILD_DIR, "traces", f"{rec['run_id']}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = int(rec["attempted"])
    failed = min(int(failed), attempted)
    metrics = per_layer(rec) if a.trace else end_to_end(rec)
    record = {
        "stamp": {"cores": rec["cores"], "heap_mb": rec["heap_mb"], "load_avg": rec["load_avg"],
                  "calibration_s": rec["calibration_s"],
                  "parallel_calibration_s": rec["parallel_calibration_s"],
                  "run_id": rec["run_id"]},
        "inputs": man, "iter_s": rec["iter_s"], "traced_iter_s": rec["traced_iter_s"],
        "failed_ops_share": failed / attempted, "failures": failures,
        "samples": {k: len(v) for k, v in rec["samples"].items()},
        "measured_ops": rec["measured"],
    }
    print(json.dumps(record, default=str))
    for f in failures:
        log(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
