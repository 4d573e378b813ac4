"""Stream workloads: drain a seeded backlog through ``StormStreamPipeline``.

The pipeline is wired as ``service.build_pipeline`` wires it for the
broker-less path — ``parquet_sink`` and ``parquet_dlq`` each wrapped in
``retry_with_backoff`` — over a JSON file source of ``RAW_EVENT_SCHEMA``
envelopes that admits one file per trigger.  One client, closed loop:
a trigger starts when the previous one has committed.

Set-up runs a throwaway stream on its own backlog and checkpoint, so
codegen and JIT are paid before timing.  Its steady batch time sizes
the measured backlog to about ``--seconds`` of draining.
"""

from __future__ import annotations

import math
import statistics
import time
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

from storm_data_etl_service_spark.functions.enrich import enrich, flatten
from storm_data_etl_service_spark.schemas import RAW_EVENT_SCHEMA
from storm_data_etl_service_spark.streaming.pipeline import (
    PipelineMetrics,
    StormStreamPipeline,
    dedup_first_wins,
    parquet_dlq,
    parquet_sink,
    retry_with_backoff,
    split_poison,
)

import backlog
from tracing import BATCH_KEY, LAYER_KEY, layer_tag

#: Slowest a drain may take before it counts as failed.
DRAIN_TIMEOUT_S = 120


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


class StreamWorkload:
    """``stream_small_batches``: backlog files of the reference's default
    ``BATCH_SIZE``, one file per trigger."""

    #: output checks per run: metrics counts, dead-letter rows, sink rows
    checks = 3
    #: records per backlog file
    records = 50
    #: warm-up files: with fewer, batch times still fall through the
    #: timed window while the JIT catches up
    warm_files = 16
    #: timed files at least, for a median over enough batches
    min_files = 10

    def _pipeline(self, ctx, src: Path, out: Path, timings: dict | None):
        raw = (
            ctx.spark.readStream.schema(RAW_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        sink = retry_with_backoff(parquet_sink(str(out / "sink")))
        dlq = retry_with_backoff(parquet_dlq(str(out / "dlq")))
        if timings is not None:
            sink = self._timed(ctx, sink, "sink", timings)
            dlq = self._timed(ctx, dlq, "dlq", timings)
        return StormStreamPipeline(raw, sink, dlq_writer=dlq, metrics=PipelineMetrics())

    @staticmethod
    def _timed(ctx, writer, layer, timings):
        """Wrap a writer: wall time per batch id, Spark jobs tagged."""

        def write(df, batch_id):
            start = time.time()
            try:
                with layer_tag(ctx.spark.sparkContext, layer, True):
                    writer(df, batch_id)
            finally:
                timings.setdefault(batch_id, {})[layer] = (start, time.time())

        return write

    def _drain(self, pipe, checkpoint: Path):
        query = pipe.start(str(checkpoint))
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            query.stop()
            raise TimeoutError(f"stream did not drain within {DRAIN_TIMEOUT_S} s")
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query, [p for p in query.recentProgress if p.numInputRows > 0]

    def prepare(self, ctx) -> None:
        backlog.write_backlog(ctx.work / "warm" / "src", f"warm-{ctx.seed}", self.warm_files, self.records)

    def setup(self, ctx) -> None:
        """Throwaway stream on its own backlog and checkpoint; sizes the
        measured backlog from its steady batch time."""
        warm = ctx.work / "warm"
        with ctx.tracer.span("setup.warmup_stream"):
            pipe = self._pipeline(ctx, warm / "src", warm, None)
            _, progress = self._drain(pipe, warm / "checkpoint")
        steady_ms = _median(p.durationMs["triggerExecution"] for p in progress[1:]) or 1000.0
        self.files = max(self.min_files, math.ceil(ctx.seconds * 1000 / steady_ms))

    def measure(self, ctx) -> dict:
        run = ctx.work / "run"
        with ctx.tracer.span("input.generate_backlog", files=self.files):
            self.counts = backlog.write_backlog(run / "src", ctx.seed, self.files, self.records)
        self.timings = {} if ctx.trace else None
        pipe = self._pipeline(ctx, run / "src", run, self.timings)
        with ctx.tracer.span("measure.drain") as self.drain_span:
            query, progress = self._drain(pipe, run / "checkpoint")
        self.query_id = str(query.id)
        self.progress = progress
        self.metrics = pipe.metrics
        self.run_dir = run
        ends = [_epoch(p.timestamp) + p.durationMs["triggerExecution"] / 1000 for p in progress]
        drain_s = ends[-1] - _epoch(progress[0].timestamp)
        records = sum(p.numInputRows for p in progress)
        durations = [p.durationMs["triggerExecution"] for p in progress]
        return {
            "op_p50_ms": statistics.median(durations),
            "records_per_s": records / drain_s,
            "_samples": durations,
            "_attempted": len(progress),
            "_ops": len(progress),
        }

    def check(self, ctx) -> list[str]:
        """Output checks; each returned string is one failed check."""
        spark = ctx.spark
        failures = []
        poison = sum(c.poison for c in self.counts)
        unique = sum(c.unique_valid for c in self.counts)
        m = self.metrics
        want = (unique + poison, unique, poison)
        if (m.consumed, m.produced, m.transform_errors) != want:
            failures.append(
                f"PipelineMetrics (consumed, produced, errors) = "
                f"{(m.consumed, m.produced, m.transform_errors)}, generator says {want}"
            )
        dlq_rows = spark.read.parquet(str(self.run_dir / "dlq")).count() if poison else 0
        if dlq_rows != poison:
            failures.append(f"dead-letter rows {dlq_rows} != generated poison {poison}")
        # the batch path, file by file (one file is one micro-batch), as
        # one plan: file i holds offsets [i * records, (i + 1) * records),
        # so keying the dedup by (id, file) keeps it within each file
        valid, _ = split_poison(spark.read.schema(RAW_EVENT_SCHEMA).json(str(self.run_dir / "src")))
        enriched = enrich(valid, passthrough=("kafka_offset",))
        per_file = enriched.withColumn("_id", F.col("id")).withColumn(
            "id", F.concat_ws("|", "id", F.floor(F.col("kafka_offset") / self.records).cast("string"))
        )
        expected = flatten(
            dedup_first_wins(per_file).withColumn("id", F.col("_id")).drop("_id", "kafka_offset")
        )
        got = spark.read.parquet(str(self.run_dir / "sink"))
        a, b = _fingerprint(got), _fingerprint(expected)
        if a != b:
            failures.append(f"sink (rows, fingerprint) {a} != batch path {b}")
        return failures

    def layers(self, ctx, jobs) -> dict:
        """Per-layer metrics from streaming progress, writer spans and
        the event log's jobs of the measured query."""
        tracer = ctx.tracer
        batches = {}
        for p in self.progress:
            start = _epoch(p.timestamp)
            span = tracer.add("stream.batch", start, start + p.durationMs["triggerExecution"] / 1000,
                              parent=self.drain_span, batch_id=p.batchId)
            batches[p.batchId] = (p, span)
        for bid, writes in self.timings.items():
            if bid in batches:
                for layer, (a, b) in writes.items():
                    tracer.add(f"stream.pipeline.{layer}_write", a, b, parent=batches[bid][1])

        def ms(bid, layer):
            a, b = self.timings.get(bid, {}).get(layer, (0.0, 0.0))
            return (b - a) * 1000

        dur = [p.durationMs for p, _ in batches.values()]
        gaps = [
            (_epoch(q.timestamp) - _epoch(p.timestamp)) * 1000 - p.durationMs["triggerExecution"]
            for p, q in zip(self.progress, self.progress[1:])
        ]
        per_batch = {}
        for j in jobs:
            if j.props.get("sql.streaming.queryId") != self.query_id:
                continue
            bid = int(j.props[BATCH_KEY])
            if bid not in batches:
                continue
            acc = per_batch.setdefault(bid, dict.fromkeys(
                ("jobs", "tasks", "cpu", "gc", "shuffle", "spill", "map", "reduce"), 0.0))
            acc["jobs"] += 1
            acc["tasks"] += j.tasks
            acc["cpu"] += j.cpu_ms
            acc["gc"] += j.gc_ms
            acc["shuffle"] += j.shuffle_write_bytes
            acc["spill"] += j.spill_bytes
            if j.props.get(LAYER_KEY) == "sink":
                for cpu, wrote in j.stages.values():
                    acc["map" if wrote else "reduce"] += cpu

        def spark_median(key):
            return _median(acc[key] for acc in per_batch.values())

        valid = sum(c.records - c.poison for c in self.counts)
        records = sum(c.records for c in self.counts)
        bids = list(batches)
        return {
            "stream.source.latest_offset_ms": _median(d["latestOffset"] for d in dur),
            "stream.source.get_batch_ms": _median(d["getBatch"] for d in dur),
            "stream.engine.query_planning_ms": _median(d["queryPlanning"] for d in dur),
            "stream.engine.wal_commit_ms": _median(d["walCommit"] for d in dur),
            "stream.engine.commit_offsets_ms": _median(d["commitOffsets"] for d in dur),
            "stream.engine.inter_batch_gap_ms": _median(gaps),
            "stream.pipeline.add_batch_ms": _median(d["addBatch"] for d in dur),
            "stream.pipeline.sink_write_ms": _median(ms(b, "sink") for b in bids),
            "stream.pipeline.dlq_write_ms": statistics.fmean(ms(b, "dlq") for b in bids),
            "stream.pipeline.dlq_calls_per_batch": sum("dlq" in self.timings.get(b, {}) for b in bids) / len(bids),
            "stream.pipeline.parse_split_ms": _median(
                batches[b][0].durationMs["addBatch"] - ms(b, "sink") - ms(b, "dlq") for b in bids
            ),
            "stream.pipeline.dedup_keep_ratio": self.metrics.produced / valid,
            "stream.pipeline.poison_ratio": self.metrics.transform_errors / records,
            "stream.spark.jobs_per_batch": spark_median("jobs"),
            "stream.spark.tasks_per_batch": spark_median("tasks"),
            "stream.spark.executor_cpu_ms_per_batch": spark_median("cpu"),
            "stream.spark.gc_ms_per_batch": spark_median("gc"),
            "stream.spark.shuffle_write_bytes_per_batch": spark_median("shuffle"),
            "stream.spark.spill_bytes_per_batch": spark_median("spill"),
            "stream.sink.map_cpu_ms": spark_median("map"),
            "stream.sink.reduce_cpu_ms": spark_median("reduce"),
        }


def _fingerprint(df):
    """(rows, order-insensitive hash) over every column but processed_at."""
    cols = [c for c in df.columns if c != "processed_at"]
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])

