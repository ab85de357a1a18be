"""Benchmark entry point: ingest -> serve -> curate.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The lines before it repeat
the metrics by name and unit, one per line. Everything the run writes
goes under ``.perfbench_run/`` in the checkout and is removed at exit,
except a traced run's spans (``.perfbench_run/spans-<workload>-seed<n>.jsonl``).
See ``perfbench/DESIGN.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.getcwd()
PACKAGE = "platypus_ingestion_plugins_spark"
DRIVER_MEMORY = "4g"

# Bounded metrics. Wall-clock throughput and latency are printed as
# report lines (and recorded as wall.* per-layer metrics by the traced
# run): on a shared VM their run-to-run spread is wider than any
# allowed bound (see DESIGN.md).
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}
WALL = {
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

_SEARCH_LAYERS = [
    f"serving.{c}.{m}"
    for c in ("lookup", "filter_topk", "text_scan", "aggs", "bm25_indexed")
    for m in ("plan_s", "exec_s", "jobs", "files_read", "rows_scanned_per_hit")
]
_STAGES = ("pipelines.normalize", "operators.dedup.exact", "operators.dedup.lsh_pairs",
           "operators.dedup.components", "functions.text.quality", "operators.decontam.decontaminate")
PER_LAYER = (
    [f"streaming.trigger.{p}_s" for p in
     ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")]
    + ["streaming.batches", "streaming.input_rows",
       "sources.avro_decode.busy_s", "sources.avro_decode.rows", "sources.avro_decode.poison_rows",
       "serving.table.apply_batch.calls", "serving.table.apply_batch.busy_s",
       "serving.table.buckets_rewritten", "serving.table.bytes_written",
       "serving.table.write_amp", "serving.table.files",
       "serving.table.fs.ops", "serving.table.fs.busy_s"]
    + _SEARCH_LAYERS
    + ["serving.table.read.busy_s", "serving.text_index.buckets_read_frac"]
    + [f"{s}_s" for s in _STAGES] + [f"{s}.rows_out" for s in _STAGES]
    + [f"operators.dedup.{k}" for k in ("candidate_pairs", "verified_pairs", "pair_yield", "max_band_bucket")]
    + ["executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.peak_mem_bytes",
       "shuffle.read_bytes", "shuffle.write_bytes", "shuffle.spill_bytes",
       "python.bytes_sent", "python.bytes_received",
       "spark.jobs", "spark.stages", "spark.tasks",
       "driver.gap_s", "storage.pinned_rdds_after", "jvm.peak_rss_mb",
       "trace.untraced_p50_ms", "trace.traced_p50_ms", "trace.overhead_frac"]
    + [f"wall.{k}" for k in WALL]
)
LAYER_UNITS = {"_per_s": "1/s", "_s": "s", "_ms": "ms", "_mb": "MB", "_frac": "ratio", "write_amp": "ratio",
               "pair_yield": "ratio", "rows_scanned_per_hit": "ratio"}


def layer_unit(name: str) -> str:
    if "bytes" in name:
        return "B"
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["cdc_upsert", "search_mix", "corpus_clean"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def prepare_environment(run_dir: str) -> dict[str, str]:
    """Process environment for a sandbox-sized local session: every
    Spark, JVM and Python scratch path inside ``run_dir``, executor
    Python workers able to import the package, and one core per
    local thread."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # fixed JIT compiler threads: a dynamically retired compiler
        # thread's CPU would fold into the process total, where the
        # CPU metric can no longer tell it apart (workloads.tree_cpu_s)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result."""
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def wall_metrics(res: dict) -> dict[str, float]:
    from perfbench.workloads import p90

    return {"throughput_per_s": res["throughput"], "latency_p50_ms": res["latency_p50_ms"],
            "latency_p90_ms": p90(res["lat_ms"])}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then close the JVM's stdin (its signal to exit)
    and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_benchmark(args, run_dir: str) -> tuple[dict, list[tuple[str, float, str]]]:
    confs = prepare_environment(run_dir)
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        confs.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
                      "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})

    from perfbench import tracing, workloads
    from platypus_ingestion_plugins_spark.session import get_spark

    log(f"{args.workload} seed={args.seed} trace={args.trace}: starting Spark")
    spark = get_spark("perfbench", extra_confs=confs)
    try:
        tracer = tracing.Tracer(False, spark)
        wl = workloads.WORKLOADS[args.workload](spark, os.path.join(run_dir, "data"), args.seed)
        # the first set-up pays the process's first-use costs (JIT,
        # Python workers) and is left out of setup_s
        setup = []
        for i in range(1 + wl.SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(i)
            setup.append(time.perf_counter() - t0)
        cold, setup = setup[0], setup[1:]
        log(f"setup: cold {cold:.2f}s, then {', '.join(f'{t:.2f}s' for t in setup)}")
        wl.warm(tracer)
        log("warm-up done; measuring")
        if not args.trace:
            res = wl.run(args.seconds, tracer)
            log(f"measured {res['attempted']} ops; verifying")
            failed, problems = wl.verify()
            log("verified")
            metrics = {"setup_s": statistics.median(setup), "cpu_ms_per_op": res["cpu_ms_per_op"]}
            report = [(k, v, END_TO_END[k]) for k, v in metrics.items()]
            report.append(("setup_cold_s", cold, "s"))
            report += [(k, v, WALL[k]) for k, v in wall_metrics(res).items()]
            report += [(k, v, u) for k, (v, u) in res["report"].items()]
            report.append(("failed_ops_frac", failed / res["attempted"], "ratio"))
            out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
            return {"attempted": res["attempted"], "failed": failed, "problems": problems,
                    "metrics": out}, report

        # traced: untraced and traced operations in one process, the
        # event log on for both (search_mix alternates whole cycles;
        # the others run the first half untraced, the second traced)
        tracing.wrap_fs(tracer)
        if args.workload == "search_mix":
            res_a, res_b = wl.run_alternating(args.seconds, tracer)
        else:
            res_a = wl.run(args.seconds, tracer, share=0.5)
            tracer.enabled = True
            res_b = wl.run(args.seconds, tracer, share=0.5)
        extra_ops = wl.attribute(tracer) if args.workload == "corpus_clean" else 0
        tracer.enabled = False
        pinned = spark.sparkContext._jsc.getPersistentRDDs().size()
        rss = jvm_peak_rss_mb(spark)
        failed, problems = wl.verify()
        spans = os.path.join(os.path.dirname(run_dir), f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(spans)
        log(f"spans written to {os.path.relpath(spans, ROOT)}")
    finally:
        stop_spark(spark)

    ev = tracing.EventLog(tracing.find_event_log(log_dir))
    layers = dict.fromkeys(PER_LAYER, 0.0)
    measured = wl.layers(tracer, ev)
    unknown = set(measured) - set(layers)
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    layers.update(measured)
    ops = max(1, res_b["attempted"])
    windows = tracer.windows
    tot = ev.total(lambda j: any(a <= j["submit"] <= b for a, b in windows))
    for key, name in (("run_s", "executor.run_s"), ("cpu_s", "executor.cpu_s"), ("gc_s", "executor.gc_s"),
                      ("shuffle_read_bytes", "shuffle.read_bytes"),
                      ("shuffle_write_bytes", "shuffle.write_bytes"), ("spill_bytes", "shuffle.spill_bytes"),
                      ("python_bytes_sent", "python.bytes_sent"),
                      ("python_bytes_received", "python.bytes_received"),
                      ("jobs", "spark.jobs"), ("stages", "spark.stages"), ("tasks", "spark.tasks")):
        layers[name] = tot.get(key, 0.0) / ops
    layers["executor.peak_mem_bytes"] = tot.get("peak_mem_bytes", 0.0)
    layers["driver.gap_s"] = sum((b - a) - ev.busy_union_s(a, b) for a, b in windows) / ops
    layers["storage.pinned_rdds_after"] = pinned
    layers["jvm.peak_rss_mb"] = rss
    pa, pb = res_a["latency_p50_ms"], res_b["latency_p50_ms"]
    layers["trace.untraced_p50_ms"] = pa
    layers["trace.traced_p50_ms"] = pb
    layers["trace.overhead_frac"] = pb / pa - 1.0
    layers.update({f"wall.{k}": v for k, v in wall_metrics(res_a).items()})
    attempted = res_a["attempted"] + res_b["attempted"] + extra_ops
    report = [(k, v, layer_unit(k)) for k, v in layers.items()]
    report.append(("failed_ops_frac", failed / attempted, "ratio"))
    out = {k: {"value": float(v), "unit": layer_unit(k)} for k, v in layers.items()}
    return {"attempted": attempted, "failed": failed, "problems": problems, "metrics": out}, report


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: run from a checkout root; {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # the checkout, not perfbench/, resolves imports
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result, report = run_benchmark(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # holds another run's directory or a traced run's spans
    for problem in result.pop("problems"):
        print(f"CHECK FAILED: {problem}")
    for name, value, unit in report:
        print(f"{args.workload} {name} {value:.6g} {unit}")
    result["correct"] = result["failed"] == 0
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
