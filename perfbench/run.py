"""Service benchmark for storm_data_etl_service_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Workloads (see README.md):

* ``stream_small_batches`` — a backlog of 50-record Kafka-envelope
  files drained one file per trigger: the fixed cost of a micro-batch.
* ``query_mix`` — the storm query surface and two staged-relation
  operators from the registry, each ``build()`` plus a noop write,
  over seeded tables.

Inputs come from ``--seed`` only.  Every run checks the program's
outputs.  The last line of stdout is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off.  ``--trace 1`` turns on Spark's event log, tags jobs and
records spans, and prints the per-layer metrics instead.  Each run
writes a sidecar JSON (spans, samples, the layer-to-metric map, and
for a traced run its overhead against the untraced run of the same
workload and seed) under ``.perfbench_out/``.

Everything the run writes stays under the checkout: inputs, Spark's
scratch space and the sidecar.  The run exits non-zero, printing no
result, when the program's package is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

from query_mix import QUERIES

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "storm_data_etl_service_spark"

#: A run that has not finished by then is abandoned without a result.
DEADLINE_S = 175

#: Driver heap, fixed and pre-touched: heap growth would otherwise set
#: the run-to-run spread of peak RSS and add resizing pauses to timings.
DRIVER_HEAP = "2g"

SMALL, MIX = "stream_small_batches", "query_mix"

#: End-to-end metrics and their units.  The client's wall-clock latency
#: and throughput are per-layer values: on a shared host they follow the
#: host's speed, which drifts from run to run by more than any useful
#: bound, while CPU time per operation moves about half as much.
UNITS = {"setup_s": "s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}

#: Per-layer metric -> (unit, end-to-end metric it should move, on which workload).
LAYERS = {
    "session.start_s": ("s", "setup_s", "all"),
    "setup.warmup_s": ("s", "setup_s", "all"),
    "stream.source.latest_offset_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.source.get_batch_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.engine.query_planning_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.engine.wal_commit_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.engine.commit_offsets_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.engine.inter_batch_gap_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.pipeline.add_batch_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.pipeline.sink_write_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.pipeline.dlq_write_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.pipeline.dlq_calls_per_batch": ("count", "cpu_ms_per_op", SMALL),
    "stream.pipeline.parse_split_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.pipeline.dedup_keep_ratio": ("ratio", "cpu_ms_per_op", SMALL),
    "stream.pipeline.poison_ratio": ("ratio", "cpu_ms_per_op", SMALL),
    "stream.spark.jobs_per_batch": ("count", "cpu_ms_per_op", SMALL),
    "stream.spark.tasks_per_batch": ("count", "cpu_ms_per_op", SMALL),
    "stream.spark.executor_cpu_ms_per_batch": ("ms", "cpu_ms_per_op", SMALL),
    "stream.spark.gc_ms_per_batch": ("ms", "cpu_ms_per_op", SMALL),
    "stream.spark.shuffle_write_bytes_per_batch": ("bytes", "cpu_ms_per_op", SMALL),
    "stream.spark.spill_bytes_per_batch": ("bytes", "cpu_ms_per_op", SMALL),
    "stream.sink.map_cpu_ms": ("ms", "cpu_ms_per_op", SMALL),
    "stream.sink.reduce_cpu_ms": ("ms", "cpu_ms_per_op", SMALL),
    "op.samples": ("count", "cpu_ms_per_op", "all"),
    "op.p90_ms": ("ms", "cpu_ms_per_op", "all"),
    "wall.op_p50_ms": ("ms", "cpu_ms_per_op", "all"),
    "wall.records_per_s": ("rec/s", "cpu_ms_per_op", "all"),
}
for _q in QUERIES:
    for _part, _unit in (("closure_s", "s"), ("build_s", "s"), ("jobs", "count"),
                         ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes")):
        LAYERS[f"query.{_q}.{_part}"] = (_unit, "cpu_ms_per_op", MIX)


@dataclass
class Context:
    root: Path
    work: Path
    seed: int
    seconds: int
    trace: bool
    tracer: object
    spark: object = None


def _workload(name: str):
    # imported here: these modules import the program, which must be
    # found in the checkout first
    from query_mix import QueryMix
    from stream import StreamWorkload

    return {
        SMALL: StreamWorkload,
        MIX: QueryMix,
    }[name]()


def _environment(work: Path) -> None:
    """Point every scratch location of Spark and Python at ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))


def _peak_rss_mb(spark) -> float:
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def _cpu_s(spark) -> float:
    """CPU seconds used so far by the driver JVM plus this process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    ticks = int(fields[11]) + int(fields[12])  # utime, stime
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tail(samples) -> float:
    return statistics.quantiles(samples, n=10)[-1] if len(samples) > 1 else samples[0]


def run(args) -> dict:
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / run_id
    try:
        return _run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id: str, work: Path) -> dict:
    from tracing import Tracer, event_log_conf, read_event_log

    _environment(work)
    ctx = Context(ROOT, work, args.seed, args.seconds, bool(args.trace), Tracer(run_id, bool(args.trace)))
    workload = _workload(args.workload)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if ctx.trace:
        conf.update(event_log_conf(work / "eventlog"))
    from storm_data_etl_service_spark.session import get_spark

    with ctx.tracer.span("run"):
        with ctx.tracer.span("input.prepare"):
            workload.prepare(ctx)
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_spark"):
            ctx.spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        try:
            t1 = time.perf_counter()
            with ctx.tracer.span("setup"):
                workload.setup(ctx)
            warmup_s = time.perf_counter() - t1
            t2, c2 = time.perf_counter(), _cpu_s(ctx.spark)
            with ctx.tracer.span("measure"):
                measured = workload.measure(ctx)
            t3, c3 = time.perf_counter(), _cpu_s(ctx.spark)
            # before the checks: their batch-path reruns and DuckDB oracles
            # are the benchmark's work, not the program's
            peak_rss = _peak_rss_mb(ctx.spark)
            with ctx.tracer.span("check"):
                failures = workload.check(ctx)
            check_s = time.perf_counter() - t3
        finally:
            _stop(ctx.spark)

    e2e = {
        "setup_s": session_s + warmup_s,
        "cpu_ms_per_op": (c3 - c2) / measured["_ops"] * 1000,
        "peak_rss_mb": peak_rss,
    }
    wall = {"op_p50_ms": measured["op_p50_ms"], "records_per_s": measured["records_per_s"]}
    sidecar = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "end_to_end": e2e, "wall": wall, "failures": failures,
        "phase_s": {"session": session_s, "setup": warmup_s, "measure": t3 - t2, "check": check_s},
        "samples_ms": measured["_samples"],
        "per_query_closure_s": measured.get("_per_query_closure_s"),
    }
    if ctx.trace:
        jobs = read_event_log(work / "eventlog")
        layers = dict.fromkeys(LAYERS, 0.0)
        layers.update(workload.layers(ctx, jobs))
        samples = measured["_samples"]
        layers.update({
            "session.start_s": session_s,
            "setup.warmup_s": warmup_s,
            "op.samples": float(len(samples)),
            "op.p90_ms": _tail(samples),
            "wall.op_p50_ms": wall["op_p50_ms"],
            "wall.records_per_s": wall["records_per_s"],
        })
        sidecar["per_layer"] = layers
        sidecar["moves"] = {k: {"metric": m, "workload": w} for k, (_, m, w) in LAYERS.items()}
        sidecar["spans"] = ctx.tracer.records()
        untraced = _sidecar_path(args.workload, args.seed, 0)
        if untraced.exists():
            base = json.loads(untraced.read_text())
            base = {**base["end_to_end"], **base["wall"]}
            sidecar["tracing_overhead"] = {k: v - base[k] for k, v in {**e2e, **wall}.items()}
            print(f"tracing overhead vs untraced run: {sidecar['tracing_overhead']}", file=sys.stderr)
        metrics = {k: {"value": v, "unit": LAYERS[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}

    out = _sidecar_path(args.workload, args.seed, args.trace)
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(sidecar, indent=1, default=str))
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    # attempted: timed operations plus output checks; failed: the
    # operations that raised plus the checks that did not hold
    return {
        "correct": not failures,
        "attempted": measured["_attempted"] + workload.checks,
        "failed": len(failures),
        "metrics": metrics,
    }


def _sidecar_path(workload: str, seed: int, trace: int) -> Path:
    return ROOT / ".perfbench_out" / f"{workload}-seed{seed}-trace{trace}.json"


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    parser.add_argument("--workload", required=True,
                        choices=(SMALL, MIX))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} is not in {ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    def deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
