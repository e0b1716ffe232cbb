#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the harness
(perfbench/build.py). Inputs are generated from the seed into a per-run
directory under .bench_build/runs, the JVM measures and checks the
program's outputs, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Exits 1 when an output
check fails. See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

# Fixed run environment (never derived per run): Spark local[k] with k
# below the 4 cores of the reference machine, a fixed shuffle-partition
# count and a fixed heap (-Xms = -Xmx).
CORES = 3
SHUFFLE_PARTITIONS = 6
HEAP = "2g"
SETUP_REPS = 9
JVM_TIMEOUT_S = 160

# No published traffic exists for this pipeline (the reference fixture is
# 3 rows, 2 of them KO), so the sizes and shares below are stated choices;
# perfbench/README.md gives the basis of each.
BATCH = dict(rows=60_000, files_per_source=2, ko_share=0.20, dup_share=0.05,
             filter_share=0.05)
BATCH_WARMUP_UNITS = 3
# The stream rate is a constant of the benchmark, never derived per run:
# a third of the measured drain capacity (rows_per_s of pipeline_stream,
# median of seeds 201-210 on the 4-vCPU reference machine), in files of
# FILE_ROWS rows, rounded to a whole number of files per second.
DRAIN_CAPACITY_ROWS_PER_S = 2416
STREAM_UTILISATION = 1 / 3
FILE_ROWS = 40
STREAM_RATE = float(round(DRAIN_CAPACITY_ROWS_PER_S * STREAM_UTILISATION / FILE_ROWS))  # 20
# 20 s of warm-up: after 10 s, the first quarter of the window still ran
# 10-25 % slower than the rest while the JIT settled (perfbench/README.md).
STREAM = dict(cold_files=5, warm_s=20.0, drains=3, drain_files=100, file_rows=FILE_ROWS,
              ko_share=0.20, dup_share=0.05, filter_share=0.05)
# The corpus of the traced runs' curate probe and kernel probes.
CURATE = dict(docs=2000, vecs=2000, dim=64, neardup_share=0.20, exact_share=0.03)
CURATE_QUERIES = ["dd_exact", "dd_minhash_lsh", "dd_simhash", "sim_lsh_topk",
                  "sim_pq_topk", "tx_quality_score"]
# DuckDB runs these oracles in about a second at the corpus size; the
# others (dd_minhash_lsh, sim_lsh_topk: ~30 s each; dd_soft_dedup_incremental:
# minutes) are checked by the cross-pass digest only.
ORACLE_CHECKED = ["dd_exact", "dd_simhash", "sim_pq_topk", "tx_quality_score"]
KERNEL_DOC_REPLICAS = 4
KERNEL_VEC_REPLICAS = 64

WORKLOADS = ("pipeline_batch", "pipeline_stream")
END_TO_END = {"setup_s": "s", "cold_run_s": "s", "latency_p50_s": "s",
              "latency_p90_s": "s", "rows_per_s": "rows/s", "peak_rss_mb": "MiB"}
MODULE_COUNTERS = ["jobs", "tasks", "executor_cpu_s", "deser_s", "gc_s",
                   "scheduler_delay_s", "shuffle_write_bytes"]
PER_LAYER = (
    ["config.parse_s", "plans.plan_s", "plans.driver_gap_s", "plans.layer_coverage",
     "sources.read_s", "sources.rows", "sources.bytes", "sources.scans_per_dataflow",
     "operators.add_fields_s", "operators.split_s", "operators.split_cache_bytes",
     "operators.ok_rows", "operators.ko_rows", "operators.post_s"]
    + [f"operators.{q}_s" for q in CURATE_QUERIES]
    + [f"functions.{k}_ns_per_row" for k in
       ("minhashSig", "shingleHashes", "simhash60", "cosineSim", "pqAdc")]
    + ["sinks.persist_s", "sinks.files", "sinks.bytes", "sinks.kafka_payload_s",
       "streaming.triggers", "streaming.empty_trigger_frac", "streaming.latest_offset_ms",
       "streaming.query_planning_ms", "streaming.add_batch_ms", "streaming.wal_commit_ms",
       "streaming.commit_offsets_ms", "streaming.queue_wait_s", "streaming.backlog_files_max",
       "streaming.generator_late_s", "streaming.bucket_coverage"]
    + [f"{m}.{c}" for m in ("sources", "operators", "sinks", "streaming", "functions")
       for c in MODULE_COUNTERS
       if not (c == "shuffle_write_bytes" and m in ("sources", "functions"))]
    + ["setup.first_jvm_s", "baseline.local1_rows_per_s", "baseline.localk_rows_per_s",
       "overhead.setup_s", "overhead.latency_p50_s", "overhead.latency_p90_s",
       "overhead.rows_per_s"])

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def unit_of(name):
    if name in END_TO_END:
        return END_TO_END[name]
    for suffix, unit in (("_ns_per_row", "ns/row"), ("rows_per_s", "rows/s"), ("_ms", "ms"),
                         ("_s", "s"), ("bytes", "bytes"), ("_frac", "ratio"),
                         ("_coverage", "ratio"), ("_per_dataflow", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def inputs(workload, seed, seconds, trace, d):
    """Generate the seeded inputs and the JVM configuration."""
    cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
           "run_dir": d, "cores": CORES, "shuffle_partitions": SHUFFLE_PARTITIONS,
           "setup_reps": SETUP_REPS + (1 if trace else 0),
           "kernel_doc_replicas": KERNEL_DOC_REPLICAS,
           "kernel_vec_replicas": KERNEL_VEC_REPLICAS}
    if workload == "pipeline_batch":
        cfg.update(gen.batch_inputs(seed, d, **BATCH))
        cfg.update(warmup_units=BATCH_WARMUP_UNITS, traced_pairs=4, decomposed_units=3,
                   baseline_units=1)
    else:
        cfg.update(gen.stream_inputs(seed, d, STREAM_RATE, window_s=seconds,
                                     extra_files=1 + 2 * STREAM["drain_files"] if trace else 0,
                                     **STREAM))
        cfg.update(baseline_drains=2)
    if trace:
        cfg.update(corpus=gen.corpus_inputs(seed, os.path.join(d, "corpus"), **CURATE),
                   queries=CURATE_QUERIES)
    return cfg


def cpu_times():
    """(busy, steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v[:8])


def oracle_check(result, d):
    """Each curate query's Spark result against DuckDB on its oracle SQL,
    both put in canonical form by tools/check_oracle.py's `canon`."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from check_oracle import canon

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{d}/duckdb-tmp'")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/corpus/{t}.parquet'")
    errors, n = [], 0
    for q, sql in sorted(result["details"].get("oracle_sql", {}).items()):
        if q not in ORACLE_CHECKED:
            continue
        n += 1
        files = [os.path.join(d, "results", q, f) for f in os.listdir(os.path.join(d, "results", q))
                 if f.endswith(".parquet")]
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        exp = canon(con.sql(sql).df())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) or not got.equals(exp):
            errors.append(f"{q}: Spark result differs from the DuckDB oracle "
                          f"({len(got)} vs {len(exp)} rows)")
    return n, errors


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classes = build.build(root)

    runs = os.path.join(root, build.BUILD_DIR, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # left behind by a killed run
    d = os.path.join(runs, f"{a.workload}-{a.seed}-{a.trace}")
    os.makedirs(os.path.join(d, "tmp"))
    try:
        t_gen = time.time()
        cfg = inputs(a.workload, a.seed, a.seconds, a.trace == 1, d)
        t_gen = time.time() - t_gen
        with open(os.path.join(d, "config.json"), "w") as f:
            json.dump(cfg, f)
        load_before = os.getloadavg()[0]
        cpu_before = cpu_times()
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
               + ADD_OPENS
               + [f"-Djava.io.tmpdir={d}/tmp", "-cp", build.classpath(root, classes),
                  "perfbench.Main", os.path.join(d, "config.json"), os.path.join(d, "result.json")])
        t_jvm = time.time()
        with open(os.path.join(d, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=d)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        t_jvm = time.time() - t_jvm
        load_after = os.getloadavg()[0]
        cpu = [b - a for a, b in zip(cpu_before, cpu_times())]
        if not os.path.exists(os.path.join(d, "result.json")):
            with open(os.path.join(d, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: JVM ended ({rc}) without a result")
        with open(os.path.join(d, "result.json")) as f:
            res = json.load(f)
        attempted, failed, errors = res["attempted"], res["failed"], list(res["errors"])
        if a.trace:
            n, errs = oracle_check(res, d)
            attempted += n
            failed += len(errs)
            errors += errs
        m = res["metrics"]
        names = PER_LAYER if a.trace else list(END_TO_END)
        missing = [k for k in names if k not in m]
        if not a.trace and missing:
            failed += 1
            errors.append(f"end-to-end metrics not measured: {missing}")
        metrics = {k: {"value": float(m.get(k, 0.0)), "unit": unit_of(k)} for k in names}
        os.makedirs(os.path.join(root, build.BUILD_DIR, "traces"), exist_ok=True)
        with open(os.path.join(root, build.BUILD_DIR, "traces",
                               f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
            json.dump({"spans": res["spans"], "details": res["details"], "metrics": m}, f)
        details = {"workload": a.workload, "seed": a.seed, "loadavg_before": load_before,
                   "loadavg_after": load_after, "gen_s": t_gen, "jvm_s": t_jvm,
                   "cpu_busy_frac": cpu[0] / cpu[2], "cpu_steal_frac": cpu[1] / cpu[2],
                   "not_exercised": missing if a.trace else [], "errors": errors,
                   **{k: v for k, v in res["details"].items() if k != "oracle_sql"}}
        print(json.dumps(details), file=sys.stderr)
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
