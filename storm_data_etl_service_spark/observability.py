"""Single-pass pipeline metrics via ``DataFrame.observe``.

The reference counts consumed/produced/transform-error records with
in-process Prometheus counters (internal/observability/metrics.go:
20-66, emission internal/pipeline/pipeline.go:104-153).  The Spark
equivalent is NOT a second aggregation job: ``observe`` attaches a
CollectMetrics node that piggybacks the metrics on whatever action
already runs the plan — zero extra scans, exact counts.  The
streaming pipeline attaches ``enrichment_metric_exprs`` through an
``Observation`` on each micro-batch's sink write
(``StormStreamPipeline._process_batch``), and ``PipelineMetrics``
accumulates them for ``/metrics``.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def enrichment_metric_exprs() -> list:
    """The D9 counter set as aggregate expressions over the ENRICHED
    frame: records seen, records with unknown type (the poison-pill /
    quality signal), records carrying a derived severity, max
    magnitude seen (capacity envelope).  The counts are 0, not null,
    over an empty frame."""
    return [
        F.count(F.lit(1)).alias("n_records"),
        F.count_if(F.col("event_type") == "").alias("n_unknown_type"),
        F.count("measurement.severity").alias("n_with_severity"),
        F.max("measurement.magnitude").alias("max_magnitude"),
    ]

