"""Query-mix workload: registry queries over seeded tables.

One client, closed loop: each query is ``REGISTRY[q].build`` followed by
a noop write, timed together as its closure, and the next query starts
when the previous one has finished.  A pass runs the whole mix in
order; passes repeat until ``--seconds`` have gone, at least twice.

Set-up collects every query's result once on the same tables.  That
pays codegen for every plan before timing, and it is the output that
the check compares, order-insensitively, with the query's DuckDB oracle
over the same parquet files.
"""

from __future__ import annotations

import hashlib
import statistics
import sys
import time

import tables
from tracing import LAYER_KEY, layer_tag

#: The mix: the storm query surface plus three staged-relation text and
#: near-duplicate operators.  The rest of the registry stays out: on a
#: shared 4-core host one cold plus two warm passes of the whole mix
#: took longer than a run may (see README.md, "Run budget").
QUERIES = (
    "enrich_events",
    "p13_hourly_rollup",
    "q12_dedup_first_wins",
    "p5_deterministic_id",
    "ccnet_perplexity_buckets",
    "dedup_minhash_lsh",
    "bm25_doc_ranking",
)

#: A median needs more than one pass, even when one pass outlasts --seconds.
MIN_PASSES = 2

#: Tables each query reads (what its builder loads), for input rows/s.
INPUTS = {
    "enrich_events": ("events",),
    "p13_hourly_rollup": ("events",),
    "q12_dedup_first_wins": ("events",),
    "p5_deterministic_id": ("events",),
    "ccnet_perplexity_buckets": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "bm25_doc_ranking": ("documents",),
}


def _normalize(ctx, cols, rows):
    """``scripts/check_correctness.normalize_result``, imported from the checkout."""
    if str(ctx.root / "scripts") not in sys.path:
        sys.path.append(str(ctx.root / "scripts"))
    from check_correctness import normalize_result

    return normalize_result(list(cols), [tuple(r) for r in rows])


def _fingerprint(normalized) -> tuple[int, str]:
    cols, data = normalized
    return len(data), hashlib.sha256(repr((cols, data)).encode()).hexdigest()[:16]


class QueryMix:
    #: output checks per run: one oracle comparison per query
    checks = len(QUERIES)

    def prepare(self, ctx) -> None:
        self.data = ctx.work / "tables"
        self.rows = tables.write_tables(self.data, ctx.seed)

    def setup(self, ctx) -> None:
        from storm_data_etl_service_spark.operators.registry import REGISTRY

        self.registry = REGISTRY
        self.results = {}
        with ctx.tracer.span("setup.collect_pass"):
            for q in QUERIES:
                df = REGISTRY[q].build(ctx.spark, str(self.data))
                self.results[q] = _fingerprint(_normalize(ctx, df.columns, df.collect()))

    def measure(self, ctx) -> dict:
        sc = ctx.spark.sparkContext
        self.passes = []  # per pass: {query: (build_s, closure_s)}
        self.failed = []
        start = time.perf_counter()
        while len(self.passes) < MIN_PASSES or time.perf_counter() - start < ctx.seconds:
            n = len(self.passes)
            times = {}
            with ctx.tracer.span("measure.pass", index=n):
                for q in QUERIES:
                    with ctx.tracer.span(f"query.{q}"), layer_tag(sc, f"query:{q}:{n}", ctx.trace):
                        t0 = time.perf_counter()
                        try:
                            with ctx.tracer.span("operators.build"):
                                df = self.registry[q].build(ctx.spark, str(self.data))
                            t1 = time.perf_counter()
                            with ctx.tracer.span("noop_write"):
                                df.write.format("noop").mode("overwrite").save()
                        except Exception as exc:  # one failed query must not end the run
                            self.failed.append(f"{q} pass {n}: {type(exc).__name__}: {exc}")
                            continue
                        times[q] = (t1 - t0, time.perf_counter() - t0)
            self.passes.append(times)
        pass_s = [sum(c for _, c in p.values()) for p in self.passes]
        input_rows = sum(self.rows[t] for q in QUERIES for t in INPUTS[q])
        return {
            "op_p50_ms": statistics.median(pass_s) * 1000,
            "records_per_s": input_rows / statistics.median(pass_s),
            "_samples": [c * 1000 for p in self.passes for _, c in p.values()],
            "_attempted": len(self.passes) * len(QUERIES),
            "_ops": len(self.passes),
            "_per_query_closure_s": {q: [p[q][1] for p in self.passes if q in p] for q in QUERIES},
        }

    def check(self, ctx) -> list[str]:
        import duckdb

        from storm_data_etl_service_spark.schemas import TESTDATA_TABLES

        failures = list(self.failed)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{ctx.work / 'duckdb'}'")
            con.execute("SET memory_limit='2GB'")
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data / t}.parquet')")
            for q in QUERIES:
                rel = con.sql(self.registry[q].oracle)
                want = _fingerprint(_normalize(ctx, rel.columns, rel.fetchall()))
                if self.results[q] != want:
                    failures.append(f"{q}: (rows, fingerprint) {self.results[q]} != oracle {want}")
        finally:
            con.close()
        return failures

    def layers(self, ctx, jobs) -> dict:
        per = {q: {"jobs": 0, "cpu_ms": 0.0, "shuffle": 0} for q in QUERIES}
        for j in jobs:
            tag = j.props.get(LAYER_KEY) or ""
            if tag.startswith("query:"):
                acc = per[tag.split(":")[1]]
                acc["jobs"] += 1
                acc["cpu_ms"] += j.cpu_ms
                acc["shuffle"] += j.shuffle_write_bytes
        n = len(self.passes)
        out = {}
        for q in QUERIES:
            samples = [p[q] for p in self.passes if q in p]
            out[f"query.{q}.closure_s"] = statistics.median(c for _, c in samples) if samples else 0.0
            out[f"query.{q}.build_s"] = statistics.median(b for b, _ in samples) if samples else 0.0
            out[f"query.{q}.jobs"] = per[q]["jobs"] / n
            out[f"query.{q}.executor_cpu_s"] = per[q]["cpu_ms"] / 1000 / n
            out[f"query.{q}.shuffle_bytes"] = per[q]["shuffle"] / n
        return out
