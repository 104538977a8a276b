"""What one pass of each workload does, and how its output is checked.

Both workloads are closed loops: one client drives one `local[N]` session
and starts the next pass only when the previous one has returned.

flagship_noop: `plans.pipeline.build_pipeline(FLAGSHIP_SPEC)` over the
  generated transcript table; the routed rows go to the noop sink, then the
  per-sink x role_group counts and byte sums are collected and checked
  against DuckDB's `O_PIPELINE_E2E`. The aggregate recomputes the routed
  rows from the scan, so a pass runs the pipeline twice. In a traced run on
  4 vCPUs the scan-only cut took 0.1 s and the cut after parse 0.97 s of
  the 1.1 s full pipeline, so regex parse is about three quarters of a
  pass; there is almost no shuffle and no write.
registry: two registry queries over the fixed sf0.01 tables, each
  collected and checked against its `queries.ORACLES` entry: ngram_jaccard
  (the self-join candidate-pair family, `functions.similarity`, with its
  plan-time min/max job) and token_count_plug (the Arrow Python-UDF
  boundary). At this size driver-side plan building, plan-time jobs and
  Python workers dominate, not row work.
  The traced registry run also times LEAF_QUERIES, checked the same way,
  so each engine module they exercise has a per-query figure.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time

from pyspark.sql import functions as F

from perfbench import checks, inputs

FLAGSHIP_CONVS = 4000
REGISTRY_QUERIES = ("ngram_jaccard", "token_count_plug")
# timed once per traced registry run, outside the registry pass
LEAF_QUERIES = (
    # functions.dedup: MinHash/LSH candidate pairs and the dedup family
    "minhash_lsh", "dedup_clusters", "incremental_dedup", "incremental_dedup_cycle",
    "prom_relabel",         # operators.prom
    "syslog_rfc5424",       # operators.netparse
    "apsara_parse",         # operators.apsara
    "otel_metric",          # operators.transform
    "container_log_parse",  # operators.container
    "clickhouse_rows",      # operators.convert
    "grok_apache",          # grok
    "top_errors",           # operators.aggregate
    "fingerprint",          # functions.textstats
    "spl_pipeline",         # plans.spl
    "yaml_pipeline",        # plans.config
    "ann_ivf",              # functions.similarity (IVF top-k)
)


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


def _aggregate(routed):
    """Per-sink x role_group counts and byte sums (the O_PIPELINE_E2E shape)."""
    return routed.groupBy("route", "role_group").agg(
        F.count(F.lit(1)).alias("log_count"),
        F.sum(F.coalesce(F.col("bytes"), F.lit(0))).alias("sum_bytes"),
    )


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Flagship:
    name = "flagship_noop"

    def __init__(self, seed: int, convs: int = FLAGSHIP_CONVS) -> None:
        self.seed = seed
        self.path = inputs.transcripts(seed, convs)
        self.reference = inputs.pipeline_reference(self.path)
        self.rows_in = sum(r[2] for r in self.reference)
        self.src = None

    def open(self, spark) -> None:
        self.spark = spark
        self.src = spark.read.parquet(self.path)

    def run_pass(self, tracer=None):
        from ilogtail_spark.plans import pipeline

        with _span(tracer, "plans.pipeline.build"):
            routed = pipeline.build_pipeline(self.src, pipeline.FLAGSHIP_SPEC)
        with _span(tracer, "sink.noop"):
            _noop(routed)
        with _span(tracer, "operators.aggregate.collect"):
            return [tuple(r) for r in _aggregate(routed).collect()]

    def check(self, output) -> str | None:
        return checks.flagship(output, self.reference)

    def prefixes(self):
        """The pipeline cut after each layer, each as one DataFrame DAG:
        scan -> +parse -> +enrich -> +route -> +aggregate (lineage + groupBy)."""
        from ilogtail_spark.plans import pipeline

        spec = pipeline.FLAGSHIP_SPEC
        procs = spec["processors"]
        return [
            ("sources.scan", lambda: self.src),
            ("operators.parse", lambda: pipeline.apply_processors(self.src, procs[:1])),
            ("operators.enrich", lambda: pipeline.apply_processors(self.src, procs)),
            ("operators.route", lambda: pipeline.apply_router(
                pipeline.apply_processors(self.src, procs), spec["router"])),
            ("operators.aggregate", lambda: _aggregate(pipeline.build_pipeline(self.src, spec))),
        ]

    def parse_fractions(self) -> tuple[float, float]:
        """(rows passing guard_regex / rows in, rows matched / rows passing)."""
        from ilogtail_spark.plans import pipeline

        proc = pipeline.FLAGSHIP_SPEC["processors"][0]
        parsed = pipeline.apply_processors(self.src, [proc])
        guard = F.col(proc["source_key"]).rlike(proc["guard_regex"])
        matched = guard & F.col(proc["keys"][0]).isNotNull()
        n, g, m = parsed.agg(
            F.count(F.lit(1)), F.sum(guard.cast("long")), F.sum(matched.cast("long"))
        ).first()
        return g / n, (m / g if g else 0.0)

    def sink_and_resume(self, tracer, out_dir: str) -> dict[str, float]:
        """One `run_pipeline` submit with a fresh run_id, then a re-submit of
        the same run_id (the resume path). Returns the sink-layer metrics
        and raises if the written rows disagree with the returned counts."""
        from pyspark.sql import DataFrameWriter

        from ilogtail_spark.plans import pipeline
        from ilogtail_spark.plans.checkpoint import CheckpointTable

        shutil.rmtree(out_dir, ignore_errors=True)
        run_id = f"perfbench-{self.seed}-{time.time_ns()}"
        tracer.wrap(pipeline, "build_pipeline", "plans.pipeline.build")
        tracer.wrap(CheckpointTable, "is_committed", "plans.checkpoint.is_committed")
        tracer.wrap(CheckpointTable, "commit", "plans.checkpoint.commit")
        tracer.wrap(DataFrameWriter, "parquet", "write.parquet",
                    attrs=lambda _w, path, *a, **k: {"path": path})
        try:
            with tracer.span("plans.pipeline.run_pipeline") as submit:
                counts = pipeline.run_pipeline(
                    self.spark, self.src, pipeline.FLAGSHIP_SPEC, out_dir, run_id=run_id)
            with tracer.span("plans.checkpoint.resume") as resume:
                resumed = pipeline.run_pipeline(
                    self.spark, self.src, pipeline.FLAGSHIP_SPEC, out_dir, run_id=run_id)
        finally:
            tracer.unwrap_all()
        routed = os.path.join(out_dir, "routed")
        err = checks.sink_partitions(inputs.rows_per_route(routed), counts)
        if err is None and resumed != counts:
            err = f"resumed counts {resumed} != submitted counts {counts}"
        if err:
            raise AssertionError(err)
        files = [os.path.join(d, f) for d, _, fs in os.walk(routed)
                 for f in fs if f.endswith(".parquet")]
        spans = [s for s in tracer.spans if submit.start <= s.start and s.end <= submit.end]
        out = {
            "plans.pipeline.write_s": sum(s.seconds for s in spans if s.name == "write.parquet"
                                          and s.attrs["path"] == routed),
            "plans.pipeline.bytes_written": float(sum(os.path.getsize(f) for f in files)),
            "plans.pipeline.files_written": float(len(files)),
            "plans.checkpoint.commit_s": sum(s.seconds for s in spans
                                             if s.name == "plans.checkpoint.commit"),
            "plans.checkpoint.resume_s": resume.seconds,
        }
        shutil.rmtree(out_dir, ignore_errors=True)
        return out


class Registry:
    name = "registry"

    def __init__(self, seed: int, names: tuple[str, ...] = REGISTRY_QUERIES) -> None:
        self.order = list(names)
        random.Random(seed).shuffle(self.order)
        self.reference = inputs.registry_references(self.order)
        self.rows_in = 0

    def open(self, spark) -> None:
        self.spark = spark

    def run_pass(self, tracer=None):
        from ilogtail_spark.queries import QUERIES

        out = {}
        for name in self.order:
            with _span(tracer, f"queries.{name}"):
                with _span(tracer, "queries.build"):
                    df = QUERIES[name](self.spark, inputs.REGISTRY_DIR)
                with _span(tracer, "collect"):
                    out[name] = (df, df.collect())
        return out

    def check(self, output) -> str | None:
        for name in self.order:
            df, rows = output[name]
            err = checks.registry(name, df.dtypes, rows, self.reference[name])
            if err:
                return err
        return None
