"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

Run from the repository root. Everything runs on ``local[nproc]`` in one
driver process with ``SPARK_GRAFT_CPUS=nproc``; inputs are generated from
the seed under ``.perfbench_work/`` and removed afterwards. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the package functions
each workload calls, reports the per-layer metrics and writes the spans to
``.perfbench_out/``. ``--workload all`` runs every workload untraced and
traced, in child processes, and prints the tracing overhead. See README.md
for the workloads, the metrics and the layer-to-metric map.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import SparkCounters, Tracer, median  # noqa: E402

WORKLOADS = ["daily_pipeline", "corpus_curation"]

# name -> (unit, better); the same lists as BENCHMARK.json
E2E = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "op_p50_s": ("s", "lower"),
    "bytes_per_row": ("B/row", "lower"),
}
# Layer times are grouped by role so that every workload measures each one:
# read = sources.normalize_* + operators.load_or_empty (daily_pipeline),
# tables.load_table (corpus_curation); plan = plans.* / functions.* plan
# builders, eager actions inside them included; sink = sinks.*; job = the
# job's own code between those calls. Per-function times are printed and
# kept in the spans file.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "layer.read_s": ("s", "lower"),
    "layer.plan_s": ("s", "lower"),
    "layer.sink_s": ("s", "lower"),
    "layer.job_s": ("s", "lower"),
    "spark.jobs_per_ingest": ("count", "lower"),
    "spark.jobs_per_features": ("count", "lower"),
    "sinks.bytes_written_per_day": ("B", "lower"),
    "sinks.files_written_per_day": ("count", "lower"),
    "store.files": ("count", "lower"),
    "dedup.verify_yield": ("ratio", "higher"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.output_bytes": ("B", "lower"),
    "spark.core_busy_ratio": ("ratio", "higher"),
    "trace.op_p50_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
# units of the workload-specific figures printed beside the metrics
EXTRA_UNITS = {"ingest_p50_s": "s", "features_p50_s": "s", "docs_per_s": "docs/s"}
SPARK_COUNTERS = [
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "input_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes",
]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work: str):
    """The engine session on local[nproc], with every scratch path inside
    ``work`` and the console progress bar off."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    from big_data_project_datapipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: peak RSS then reflects the run, not the
            # collector's heap-resizing decisions
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, work: str, seed: int, tracer: Tracer):
    if name == "daily_pipeline":
        from daily import TRACED, DailyPipeline as cls
    else:
        from corpus import TRACED, CorpusCuration as cls
    return cls(spark, work, seed, tracer), TRACED


def measure(wl, seconds: float) -> None:
    """Repeat the workload's op until ``seconds`` have passed and at least
    ``wl.min_ops`` ops ran; op 0 was the set-up's warm-up."""
    t_end = time.perf_counter() + seconds
    i = 1
    while i <= wl.min_ops or time.perf_counter() < t_end:
        wl.op(i)
        i += 1


def per_op_counters(tracer: Tracer, ops: list[str]) -> dict[str, list[float]]:
    """Spark counters and wall time per op, summed over top-level spans."""
    tot = {op: dict.fromkeys(SPARK_COUNTERS + ["wall_s"], 0.0) for op in ops}
    for s in tracer.spans:
        if s.parent is None and s.op in tot:
            for k in SPARK_COUNTERS:
                tot[s.op][k] += s.counters.get(k, 0)
            tot[s.op]["wall_s"] += s.end - s.start
    return {k: [tot[op][k] for op in ops] for k in SPARK_COUNTERS + ["wall_s"]}


def run_one(args) -> int:
    try:
        importlib.import_module("big_data_project_datapipeline_spark")
    except ImportError as e:
        print(f"perfbench: the engine package is not importable here: {e}", file=sys.stderr)
        return 2
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        get_spark_s = time.perf_counter() - t0
        # set-up runs untraced in both modes, so session.warmup_s matches setup_s
        tracer = Tracer(False, SparkCounters(spark) if args.trace else None)
        wl, traced = make_workload(args.workload, spark, work, args.seed, tracer)
        t1 = time.perf_counter()
        wl.setup()
        warmup_s = time.perf_counter() - t1
        tracer.enabled = bool(args.trace)
        for mod, attr, name, _ in traced:
            tracer.wrap(importlib.import_module(mod), attr, name)
        error = None
        try:
            measure(wl, args.seconds)
        except Exception:  # noqa: BLE001 — a failed op is reported, not fatal
            error = traceback.format_exc()
            print(error, file=sys.stderr)
        finally:
            tracer.restore()
        attempted = len(wl.ops) + 1 + (error is not None)
        try:
            failed = min(attempted, wl.check() + (error is not None))
        except Exception:  # noqa: BLE001 — unreadable outputs fail every op
            print(traceback.format_exc(), file=sys.stderr)
            failed = attempted
        props = wl.properties()
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        e2e = {"setup_s": get_spark_s + warmup_s, "peak_rss_mb": rss, **wl.e2e()}
        print(f"workload {args.workload} seed {args.seed} cores {cores()}")
        print("properties " + json.dumps(props, sort_keys=True))
        print("op_s " + " ".join(f"{x:.3f}" for x in wl.op_s))
        for k, v in e2e.items():
            unit = E2E[k][0] if k in E2E else EXTRA_UNITS[k]
            print(f"  {k:<22} {v:>14.4f} {unit}")
        if args.trace:
            for name in dict.fromkeys(n for _, _, n, _ in traced):
                print(f"  {name + '_s':<34} {median(tracer.per_op({name}, wl.ops)):>10.4f} s")
            metrics = layer_metrics(tracer, wl, traced, get_spark_s, warmup_s)
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl")
            tracer.dump(spans)
            print(f"spans written to {os.path.relpath(spans, root)}")
            units = PER_LAYER
        else:
            metrics = {k: e2e[k] for k in E2E}
            units = E2E
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k][0]} for k in units},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(tracer: Tracer, wl, traced, get_spark_s: float, warmup_s: float) -> dict:
    ops = wl.ops
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(wl.per_layer())
    m["session.get_spark_s"] = get_spark_s
    m["session.warmup_s"] = warmup_s
    for role in ("read", "plan", "sink"):
        names = {n for _, _, n, r in traced if r == role}
        m[f"layer.{role}_s"] = median(tracer.per_op(names, ops))
    top = {s.name for s in tracer.spans if s.parent is None}
    m["layer.job_s"] = median(tracer.per_op(top, ops))
    c = per_op_counters(tracer, ops)
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = median(c[k])
    m["spark.core_busy_ratio"] = sum(c["executor_run_s"]) / (sum(c["wall_s"]) * cores())
    m["trace.op_p50_s"] = wl.e2e()["op_p50_s"]
    m["trace.overhead_s"] = tracer.overhead_s / len(ops)
    return m


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process."""
    status = 0
    for w in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if p.returncode != 0 or not lines:
                print(f"{w} trace={trace}: exit {p.returncode}")
                status = 1
                continue
            res[trace] = json.loads(lines[-1])
            print(f"{w} trace={trace}: attempted {res[trace]['attempted']} "
                  f"failed {res[trace]['failed']} correct {res[trace]['correct']}")
        if len(res) == 2:
            m = res[1]["metrics"]
            diff = m["trace.op_p50_s"]["value"] - res[0]["metrics"]["op_p50_s"]["value"]
            print(f"{w}: tracing overhead (traced - untraced op_p50_s) {diff:+.4f} s; "
                  f"tracer bookkeeping {m['trace.overhead_s']['value']:.4f} s per op")
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, os.getcwd())
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
