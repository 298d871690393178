"""Benchmark entry point.

    python3 perfbench/run.py --workload {crawl,ivm,dedup} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. Starts Spark on ``local[k]``
(k = min(4, cores)), builds the workload's inputs from ``--seed`` under
``.perfbench/`` in the checkout (removed at exit), measures closed-loop
iterations for ``--seconds`` seconds with one client, checks every output,
and prints one JSON object as the last line of standard output:

* ``--trace 0``: the end-to-end metrics, tracing off;
* ``--trace 1``: the per-layer metrics. Untraced and traced iterations
  alternate; the spans are written to ``.perfbench/traces/``.

Lines before the JSON restate the results under their per-workload names,
with sample counts. A failed output check exits with status 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from spans import Tracer, driver_gap, self_time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spans the workloads record, one per call into a layer.
CALLS = (
    "plans.explore",
    "plans.fetch",
    "sources.upsert",
    "sources.append_rows",
    "sources.delete_where",
    "sources.refresh_aggregate",
    "sources.read_table_points",
    "operators.minhash_near_duplicates",
    "operators.build_lsh_index",
    "operators.lsh_index_query_df",
)
CALL_FIELDS = (
    ("calls", "count"),
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("exec_run_s", "s"),
    ("driver_gap_s", "s"),
    ("shuffle_bytes", "bytes"),
)
COUNTERS = (
    ("actions.remote_requests", "count"),
    ("actions.dup_request_ratio", "ratio"),
    ("actions.server_busy_s", "s"),
    ("actions.fetch_errors", "count"),
    ("caching.warm_hit_ratio", "ratio"),
    ("caching.dfs_files", "count"),
    ("caching.dfs_bytes", "bytes"),
    ("sources.write_amp", "ratio"),
    ("sources.files_per_version", "count"),
    ("sources.view_bytes_rewritten", "bytes"),
    ("sources.buckets_touched_ratio", "ratio"),
    ("sources.bloom_skip_ratio", "ratio"),
    ("operators.candidate_pairs", "count"),
    ("operators.verified_pairs", "count"),
    ("operators.candidate_precision", "ratio"),
    ("operators.injected_recall", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.iteration_self_s", "s"),
    ("trace.unattributed_jobs", "count"),
)

#: Set-up runs ``prepare`` this many times and reports the median. Two,
#: not more: one more ``ivm`` prepare (a 600k-row table with blooms and its
#: view) costs ~5 s per run, and a full sweep makes dozens of runs.
PREPARE_REPEATS = 2

#: What each end-to-end metric is called on each workload (printed above
#: the JSON line; see perfbench/WORKLOADS.md).
ALIASES = {
    "crawl": {"write_rate": "crawl.cold_pages_per_s", "write_p50_s": "crawl.cold_pass_p50_s",
              "read_p50_s": "crawl.warm_pass_p50_s"},
    "ivm": {"write_rate": "ivm.changed_rows_per_s", "write_p50_s": "ivm.fresh_p50_s",
            "read_p50_s": "ivm.lookup_p50_s"},
    "dedup": {"write_rate": "dedup.batch_docs_per_s", "write_p50_s": "dedup.index_build_s",
              "read_p50_s": "dedup.probe_p50_s"},
}


def spark_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def call_metrics(tracer, n_iterations: int) -> dict:
    out = {}
    for call in CALLS:
        spans = [s for s in tracer.spans if s.name == call]
        subtree = [tracer.subtree_jobs(s) for s in spans]
        fields = {
            "calls": len(spans) / max(n_iterations, 1),
            "wall_s": median([s.wall for s in spans]),
            "self_s": median([self_time(s, tracer.children(s)) for s in spans]),
            "jobs": statistics.fmean([len(j) for j in subtree]) if spans else 0.0,
            "stages": statistics.fmean([sum(x.stages for x in j) for j in subtree]) if spans else 0.0,
            "exec_run_s": median([sum(x.exec_run_s for x in j) for j in subtree]),
            "driver_gap_s": median([driver_gap(s, j) for s, j in zip(spans, subtree)]),
            "shuffle_bytes": statistics.fmean([sum(x.shuffle_bytes for x in j) for j in subtree]) if spans else 0.0,
        }
        for field, unit in CALL_FIELDS:
            out[f"{call}.{field}"] = {"value": fields[field], "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("crawl", "ivm", "dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # the system under test is the checkout this script sits in
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import spookystuff_spark  # noqa: F401  (fails fast outside a checkout)
    from workloads import WORKLOADS, Counters

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cores = min(4, os.cpu_count() or 1)
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = spark_session(work, cores)
        session_s = time.perf_counter() - t0
        counters = Counters()
        wl = WORKLOADS[args.workload](spark, args.seed, work, counters)
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        tracer = Tracer(spark, run_id, enabled=False)
        prep = []
        for k in range(PREPARE_REPEATS):
            t = time.perf_counter()
            wl.prepare(os.path.join(work, f"prep-{k}"))
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up(tracer)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + median(prep) + warmup_s

        samples, walls, jobs = [], {False: [], True: []}, []
        attempted = failed = 0
        start = time.perf_counter()
        i = 0
        while True:
            traced = bool(args.trace) and i % 2 == 1
            tracer.enabled = traced
            t = time.perf_counter()
            first_job = tracer.next_job_id()
            try:
                with tracer.span(f"{args.workload}.iteration"):
                    sample = wl.iteration(tracer)
            except Exception:  # noqa: BLE001 - a failing call is a failed op
                traceback.print_exc()
                attempted += 1
                failed += 1
                break
            walls[traced].append(time.perf_counter() - t)
            attempted += sample.ops
            failed += sample.failed
            if not traced:
                samples.append(sample)
                jobs.append(tracer.next_job_id() - first_job)
            i += 1
            done = time.perf_counter() - start >= args.seconds
            if done and (not args.trace or i % 2 == 0):
                break
        tracer.enabled = False
        attempted += 1
        t = time.perf_counter()
        try:
            wl.final_check()
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            failed += 1
        check_s = time.perf_counter() - t

        if args.trace:
            metrics = call_metrics(tracer, len(walls[True]))
            counts = wl.layer_counts()
            counts["trace.overhead_s"] = median(walls[True]) - median(walls[False])
            counts["trace.unattributed_jobs"] = tracer.unattributed_jobs()
            roots = [s for s in tracer.spans if s.parent is None]
            counts["trace.iteration_self_s"] = median(
                [self_time(s, tracer.children(s)) for s in roots]
            )
            for name, unit in COUNTERS:
                metrics[name] = {"value": float(counts.get(name, 0.0)), "unit": unit}
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces", f"{run_id}.jsonl"))
            print(f"# traced iterations={len(walls[True])} untraced={len(walls[False])}")
        else:
            rate = [r for s in samples for r in s.rate]
            write = [w for s in samples for w in s.write]
            read = [r for s in samples for r in s.read]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "total_s": {"value": median(walls[False]), "unit": "s"},
                "jobs": {"value": median(jobs), "unit": "count"},
                "write_rate": {
                    "value": sum(n for n, _ in rate) / max(sum(s for _, s in rate), 1e-9),
                    "unit": "1/s",
                },
                "write_p50_s": {"value": median(write), "unit": "s"},
                "read_p50_s": {"value": median(read), "unit": "s"},
            }
            n = {"total_s": len(walls[False]), "jobs": len(jobs), "write_rate": len(rate),
                 "write_p50_s": len(write), "read_p50_s": len(read)}
            print(f"# setup: session {session_s:.3f} s, prepare median {median(prep):.3f} s "
                  f"(n={len(prep)}), warm-up {warmup_s:.3f} s; final check {check_s:.3f} s")
            for name, m in metrics.items():
                alias = ALIASES[args.workload].get(name, f"{args.workload}.{name}")
                print(f"# {alias} = {m['value']:.6g} {m['unit']} (n={n.get(name, 1)})")
            print(f"# {args.workload}.failed_ratio = {failed / attempted:.6g} (n={attempted})")
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0 if failed == 0 else 1
    finally:
        try:
            if wl is not None:
                wl.close()
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
