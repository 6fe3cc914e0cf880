"""End-to-end benchmark of etl_tool_spark: four closed-loop workloads,
every op checked for correctness, one JSON result line.

    python3 perfbench/run.py --workload etl_playbook --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics (untraced), with ``--trace 1`` the per-layer
metrics of a run whose odd-numbered warm ops are traced. Everything the
run writes lives under ``.perfbench/`` in the repository root and the
run directory is removed at exit; traced runs keep their spans in
``.perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit) of every metric the runner computes. A run emits the ones
# BENCHMARK.json lists (end_to_end with --trace 0, per_layer with
# --trace 1) and prints the rest in its report; test_smoke checks that
# BENCHMARK.json only names metrics from these lists, with these units.
END_TO_END = [("setup_s", "s"), ("cold_op_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("throughput_per_s", "1/s")]
TAIL_PCT = 75
RUNTIME = [k for k in spans.RUNTIME_FIELDS if k != "input_bytes"] + ["busy_share"]
LAYER = (
    [("session.get_spark_s", "s"),
     ("plans.load_config_s", "s"), ("plans.build_pipeline_s", "s"),
     ("plans.run_pipeline_s", "s"),
     ("sources.read_s", "s"), ("sources.scan_bytes", "bytes"),
     ("sources.scan_amp", "ratio"),
     ("operators.map_task_s", "s"), ("operators.dedup.task_s", "s"),
     ("operators.dedup.shuffle_bytes", "bytes"), ("operators.spill_bytes", "bytes"),
     ("operators.rows_in", "count"), ("operators.rows_filtered", "count"),
     ("operators.rows_flattened", "count"), ("operators.rows_out", "count"),
     ("operators.rows_error", "count"),
     ("sinks.write_s", "s"), ("sinks.bytes_out", "bytes"),
     ("sinks.files_out", "count"),
     ("catalog.plan_s", "s"), ("catalog.exec_s", "s"), ("catalog.task_s", "s"),
     ("catalog.shuffle_bytes", "bytes"), ("catalog.exchanges", "count"),
     ("catalog.broadcasts", "count"),
     ("cdc.merge_s", "s"), ("cdc.jobs_per_merge", "count"),
     ("cdc.bytes_rewritten", "bytes"), ("cdc.buckets_rewritten", "count"),
     ("cdc.files_live", "count"), ("cdc.read_snapshot_s", "s"),
     ("cdc.diff_s", "s"), ("cdc.vacuum_s", "s"),
     ("ingest.land_s", "s"), ("ingest.jobs_per_batch", "count"),
     ("ingest.stages_per_batch", "count"), ("ingest.survivor_ratio", "ratio"),
     ("llm.store.files", "count"), ("llm.store.bytes", "bytes"),
     ("llm.store.probe_bytes", "bytes"), ("llm.store.compact_s", "s")]
    + [(f"op.{k}", "s" if k.endswith("_s") else "ratio" if k == "busy_share"
        else "bytes" if k.endswith("_bytes") else "count") for k in RUNTIME]
    + [("trace.untraced_remainder_s", "s"), ("trace.overhead_s", "s")])
T_START = time.perf_counter()
WALL_LIMIT_S = 120        # end the warm loop by then: a run must end in 180 s


def percentile(xs: list[float], pct: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def pin_environment(work: str) -> None:
    """Size Spark to this host, keep every file the run creates inside
    ``work``, and let the engine's Python UDF workers import it."""
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # 4g is the smallest heap get_spark pins (-Xms = -Xmx, pre-touched):
    # a grow-on-demand heap faults pages in and collects more often
    # while it grows (warm rounds ran 10-20% slower on a 2g heap)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.pop("SPARK_MASTER", None)


def run_op(wl, i: int, log: list):
    """One checked op; an exception or a failed check counts as failed."""
    try:
        op = wl.op(i)
    except Exception:
        traceback.print_exc()
        log.append(None)
        return None
    if op.problems:
        print(f"[{wl.name}] op {i} failed its check: " + "; ".join(op.problems),
              file=sys.stderr)
    log.append(op)
    return op


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "etl_tool_spark", "__init__.py")):
        print(f"no etl_tool_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    listed = benchmark_metrics("per_layer" if args.trace else "end_to_end")

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        pin_environment(work)
        return measure(workloads, args, work, base, listed)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(workloads, args, work: str, base: str, listed: list[str]) -> int:
    wl = workloads.WORKLOADS[args.workload](ROOT, work, args.seed)
    phases = {}
    t_gen = time.perf_counter()
    wl.generate()                                   # untimed, no Spark
    phases["generate"] = time.perf_counter() - t_gen

    t0 = time.perf_counter()
    import etl_tool_spark

    t_get = time.perf_counter()
    spark = etl_tool_spark.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t_get
    spark.range(1000).selectExpr("sum(id)").collect()   # first job: warm
    setup_s = time.perf_counter() - t0

    try:
        tracer = spans.Tracer(spark)
        wl.start(spark, tracer)
        if args.trace:
            wl.wrap()
        log: list = []

        phases["setup"] = setup_s
        t_phase = time.perf_counter()
        cold = run_op(wl, 0, log)
        phases["cold_and_checks"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()
        for i in range(1, 1 + wl.warmup_ops):
            run_op(wl, i, log)
        phases["warmup"] = time.perf_counter() - t_phase
        warm, traced = [], []
        i = 1 + wl.warmup_ops
        t_start = time.perf_counter()
        while True:
            elapsed = time.perf_counter() - t_start
            n = len(warm) + len(traced)
            done = (elapsed >= args.seconds and len(warm) >= 2
                    and n % wl.round_len == 0)
            late = time.perf_counter() - T_START > WALL_LIMIT_S
            if done or late or wl.exhausted(i):
                break
            tracer.enabled = bool(args.trace and i % 2)
            tracer.op = i
            op = run_op(wl, i, log)
            tracer.enabled = False
            if args.trace:
                tracer.harvest()
            if op is not None:
                (traced if args.trace and i % 2 else warm).append(op)
            i += 1
        phases["warm"] = time.perf_counter() - t_start
        t_phase = time.perf_counter()
        tracer.enabled = bool(args.trace)
        tracer.op = i
        finals = []
        try:
            finals = wl.finish()
        except Exception:
            traceback.print_exc()
            log.append(None)
        tracer.enabled = False
        if args.trace:
            tracer.harvest()
        log.extend(finals)
        phases["finish"] = time.perf_counter() - t_phase

        attempted = len(log)
        failed = sum(1 for op in log if op is None or op.problems)
        lat = [op.latency_s for op in warm]
        report = {
            "workload": wl.name, "seed": args.seed, "unit": wl.unit,
            "inputs": wl.inputs,
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "warm_ops": len(warm), "traced_ops": len(traced),
            "p50_by_label_s": {
                k: round(percentile([o.latency_s for o in warm if o.label == k], 50), 4)
                for k in sorted({o.label for o in warm if o.label})},
            "fail_ratio": failed / attempted,
            "read_p50_s": median_or_none([r for op in warm for r in op.reads_s]),
            "write_amp": (sum(op.bytes_written for op in warm)
                          / max(1, sum(op.bytes_in for op in warm)))
            if any(op.bytes_in for op in warm) else None,
        }
        if args.trace:
            metrics = layer_metrics(wl, tracer, get_spark_s, warm, traced, spark)
            units = dict(LAYER)
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            tracer.dump(os.path.join(base, "traces",
                                     f"{wl.name}-{args.seed}.json"),
                        {"report": report, "metrics": metrics})
        else:
            metrics = {
                "setup_s": setup_s,
                "cold_op_s": cold.latency_s if cold else float("nan"),
                "op_p50_s": percentile(lat, 50) if lat else float("nan"),
                "op_tail_s": percentile(lat, TAIL_PCT) if lat else float("nan"),
                "throughput_per_s": sum(op.units for op in warm) / sum(lat)
                if lat else float("nan"),
            }
            units = dict(END_TO_END)
        print_report(report, metrics, units, listed)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in listed}}))
        return 0
    finally:
        stop_spark(spark)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes, and
    takes the Python UDF workers with it) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def benchmark_metrics(section: str) -> list[str]:
    """Metric names BENCHMARK.json lists in ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)[section]]


def median_or_none(xs):
    return percentile(xs, 50) if xs else None


def layer_metrics(wl, tracer, get_spark_s: float, warm, traced, spark) -> dict:
    """Per-layer metrics of a traced run: every layer's metrics (zero on
    layers this workload does not reach), the Spark runtime of a traced
    op, the op time no layer span covers, and the tracing overhead."""
    import workloads as w

    cores = spark.sparkContext.defaultParallelism
    m = {name: 0 for name, _ in LAYER}
    m["session.get_spark_s"] = get_spark_s
    m.update(wl.layer_metrics())
    ops = w.named(tracer, "op")
    for k in RUNTIME:
        if k == "busy_share":
            m["op.busy_share"] = w.median(
                w.tree_runtime(tracer, s, "task_s") / (s.duration * cores)
                for s in ops)
        else:
            m[f"op.{k}"] = w.median(w.tree_runtime(tracer, s, k) for s in ops)
    m["sinks.bytes_out"] = w.median(op.bytes_written for op in traced)
    m["trace.untraced_remainder_s"] = w.median(spans.self_time(s, tracer.spans)
                                               for s in ops)
    # traced minus untraced median, per op label (the same query on
    # warehouse_sql), then the median over labels seen both ways
    gaps = [percentile([o.latency_s for o in traced if o.label == k], 50)
            - percentile([o.latency_s for o in warm if o.label == k], 50)
            for k in {o.label for o in traced} & {o.label for o in warm}]
    m["trace.overhead_s"] = w.median(gaps)
    return m


def print_report(report: dict, metrics: dict, units: dict,
                 listed: list[str]) -> None:
    """Human-readable lines above the JSON: every listed metric, plus the
    workload's other non-zero metrics."""
    print(f"# {report['workload']} seed={report['seed']} unit={report['unit']} "
          f"warm_ops={report['warm_ops']} traced_ops={report['traced_ops']} "
          f"(op_tail_s = p{TAIL_PCT} of the warm ops)")
    print(f"# inputs {json.dumps(report['inputs'])}")
    print(f"# phases_s {json.dumps(report['phases_s'])}")
    if report["p50_by_label_s"]:
        print(f"# p50_by_label_s {json.dumps(report['p50_by_label_s'])}")
    for k, v in metrics.items():
        if v or k in listed:
            print(f"{k:32s} {v:14.6g} {units[k]}")
    for k in ("fail_ratio", "read_p50_s", "write_amp"):
        v = report[k]
        print(f"{k:32s} {'n/a' if v is None else format(v, '14.6g'):>14s} "
              f"{'s' if k.endswith('_s') else 'ratio'}")


if __name__ == "__main__":
    sys.exit(main())
