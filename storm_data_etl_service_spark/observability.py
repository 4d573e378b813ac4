"""Single-pass pipeline metrics via ``DataFrame.observe``.

The reference counts consumed/produced/transform-error records with
in-process Prometheus counters (internal/observability/metrics.go:
20-66, emission internal/pipeline/pipeline.go:104-153).  The Spark
equivalent is NOT a second aggregation job: ``observe`` attaches a
CollectMetrics node that piggybacks the metrics on whatever action
already runs the plan — zero extra scans, exact counts, and in
streaming the same expressions surface per micro-batch in
``StreamingQueryProgress.observedMetrics`` (the D9 listener feed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
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


def with_enrichment_metrics(
    enriched: DataFrame, name: str = "enrichment"
) -> tuple[DataFrame, Observation | None]:
    """Attach the D9 metric set to an enriched frame.

    Batch: returns (df, Observation) — read ``observation.get`` after
    the first action.  Streaming: Observation objects are
    batch-only, so the same expressions are attached via the named
    ``observe`` variant and arrive in every progress event under
    ``observedMetrics[name]``; returns (df, None).
    """
    if enriched.isStreaming:
        return enriched.observe(name, *enrichment_metric_exprs()), None
    obs = Observation(name)
    return enriched.observe(obs, *enrichment_metric_exprs()), obs
