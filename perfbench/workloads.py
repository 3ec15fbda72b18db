"""The benchmark's workloads.

Each workload prepares its seeded inputs (``setup``), optionally runs an
untimed pass that checks every output against an oracle and warms the
code paths (``validate``), then runs timed passes (``one_pass``). A pass
returns its wall time and the latencies of the steps inside it: the
pipeline call and the drain for ``etl``, the queries for ``query_mix``.
``check`` inspects what the last pass wrote. Output checks read parquet
footers with pyarrow, so they never trust the program's own counters.
"""

from __future__ import annotations

import glob
import os
import time
from contextlib import nullcontext

import pyarrow.parquet as pq

import corpus as corpus_mod
import tables as tables_mod

BATCH_DOCS = 100
STREAM_DOCS = 40
STREAM_FILES_PER_TRIGGER = 10
QUERY_SCALE = 0.01
# Relational (JVM-only aggregates and windows; pinned rank grids with
# jobs run while building) and vector (codebook build jobs and
# higher-order folds; the mapInPandas codec boundary) registry queries.
QUERIES = (
    "q1_pricing_summary",
    "win_running_sum_customer_spend",
    "abc_pareto_classification",
    "similarity_pq_adc_top10",
    "multimodal_png_decode",
)


def parquet_stats(root: str) -> tuple[int, int, int]:
    """(rows, files, bytes) over every parquet part file below ``root``."""
    rows = files = size = 0
    for path in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        rows += pq.ParquetFile(path).metadata.num_rows
        files += 1
        size += os.path.getsize(path)
    return rows, files, size


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


class Failed(Exception):
    """An operation's output did not match what its inputs require."""


def check_star(corpus, out: str) -> tuple[int, int, int, int]:
    """Rows on disk per table and in the dead-letter dir must equal the
    corpus's own expectation. Returns (rows, files, bytes, quarantined)."""
    rows = files = size = 0
    for table, want in corpus.expected_tables().items():
        got, f, b = parquet_stats(os.path.join(out, "star", table))
        if got != want:
            raise Failed(f"{out}: {table}: {got} rows written, corpus implies {want}")
        rows, files, size = rows + got, files + f, size + b
    dead, _, _ = parquet_stats(os.path.join(out, "dead"))
    if dead != corpus.malformed:
        raise Failed(f"{out}: {dead} documents quarantined, {corpus.malformed} injected")
    return rows, files, size, dead


class Etl:
    """The reference job's two entry points, once each in a fresh session,
    as a scheduled job runs them: a folder of mixed-form JSON documents
    through ``pipeline.run_batch_pipeline`` into a parquet star schema and
    a dead-letter directory, then bank-form documents through
    ``streaming.ingest`` as an available-now drain in small micro-batches,
    each a dynamic-partition-overwrite fan-out, from a fresh checkpoint.
    The first call pays for class loading and code generation, as it does
    for the job."""

    name = "etl"
    max_passes = 1
    ops_per_pass = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.out = None
        self.progress: list[dict] = []

    def setup(self, rep: int) -> None:
        from etl_sample_spark import schemas
        from etl_sample_spark.pipeline import route_files
        from etl_sample_spark.streaming.ingest import stream_documents

        root = os.path.join(self.work, f"in{rep}")
        self.batch = corpus_mod.write_corpus(os.path.join(root, "batch"), self.seed, BATCH_DOCS)
        route_files(self.batch.root, self.spark)
        self.stream = corpus_mod.write_corpus(os.path.join(root, "stream"), self.seed, STREAM_DOCS, corpus_mod.BANK_ONLY)
        stream_documents(self.spark, self.stream.root, schemas.BANK_SCRAPE_SCHEMA, corrupt_col="_corrupt_record")

    def validate(self) -> tuple[int, int]:
        return 0, 0

    def one_pass(self, i: int, tracer=None) -> tuple[float, list[float]]:
        """The pipeline call, then the drain; the steps are their walls."""
        from etl_sample_spark import schemas
        from etl_sample_spark.forms import bank_form_specs
        from etl_sample_spark.pipeline import run_batch_pipeline
        from etl_sample_spark.streaming.ingest import run_ingest_available_now, stream_documents

        self.out = os.path.join(self.work, f"out{i}")
        batch_out, stream_out = os.path.join(self.out, "batch"), os.path.join(self.out, "stream")
        t0 = time.perf_counter()
        counts = run_batch_pipeline(
            self.spark, self.batch.root,
            parquet_out=os.path.join(batch_out, "star"), dead_letter_dir=os.path.join(batch_out, "dead"),
        )
        t1 = time.perf_counter()
        want = {**self.batch.expected_tables(), "__quarantined": self.batch.malformed}
        if counts != want:
            raise Failed(f"pipeline reported {counts}, corpus implies {want}")
        docs = stream_documents(
            self.spark, self.stream.root, schemas.BANK_SCRAPE_SCHEMA,
            max_files_per_trigger=STREAM_FILES_PER_TRIGGER, corrupt_col="_corrupt_record",
        )
        query = run_ingest_available_now(
            docs, bank_form_specs(), os.path.join(stream_out, "star"), os.path.join(stream_out, "ckpt"),
            dead_letter_dir=os.path.join(stream_out, "dead"),
        )
        with _span(tracer, "ingest.await_termination"):
            query.awaitTermination()
        t2 = time.perf_counter()
        if query.exception() is not None:
            raise Failed(f"stream failed: {query.exception()}")
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        if sum(p["numInputRows"] for p in progress) != self.stream.docs:
            raise Failed("stream did not read every document exactly once")
        self.progress += progress
        return t2 - t0, [t1 - t0, t2 - t1]

    def stream_durations(self) -> dict[str, float]:
        """Seconds per ``durationMs`` phase, summed over every drain."""
        out: dict[str, float] = {}
        for p in self.progress:
            for phase, ms in p["durationMs"].items():
                out[phase] = out.get(phase, 0.0) + ms / 1000.0
        return out

    def check(self) -> dict[str, float]:
        """Both star schemas and dead-letter dirs against their corpora;
        returns sink statistics summed over the two."""
        b = check_star(self.batch, os.path.join(self.out, "batch"))
        s = check_star(self.stream, os.path.join(self.out, "stream"))
        rows, files, size, dead = (x + y for x, y in zip(b, s))
        return {"docs": self.batch.docs + self.stream.docs, "in_bytes": self.batch.bytes + self.stream.bytes,
                "quarantined": dead, "sink_rows": rows, "sink_files": files, "sink_bytes": size}


class QueryMix:
    """Registry queries over seeded TPC-H-like tables: each pass builds
    every query and writes it to the ``noop`` sink, so every output column
    is computed."""

    name = "query_mix"
    max_passes = None
    ops_per_pass = len(QUERIES)

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def setup(self, rep: int) -> None:
        from etl_sample_spark import catalog

        self.sf_dir = os.path.join(self.work, f"tables{rep}")
        self.rows = tables_mod.write_tables(self.sf_dir, self.seed, QUERY_SCALE)
        for name in self.rows:
            catalog.table(self.spark, self.sf_dir, name).schema

    def validate(self) -> tuple[int, int]:
        """Untimed pass: each query against its DuckDB oracle (row count
        plus order-insensitive value multiset), oracle-less ones by row
        count being positive. Returns (attempted, failed)."""
        import duckdb
        import driver_sim
        from etl_sample_spark.plans import REGISTRY

        con = duckdb.connect()
        for name in self.rows:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{self.sf_dir}/{name}.parquet'")
        failed = 0
        self.failures: list[str] = []
        for name in QUERIES:
            spec = REGISTRY[name]
            try:
                df = spec.spark(self.spark, self.sf_dir)
                rows = [tuple(r) for r in df.collect()]
                if spec.oracle is None:
                    ok = len(rows) > 0
                else:
                    rel = con.sql(spec.oracle)
                    want = rel.fetchall()
                    ok = len(rows) == len(want) and driver_sim.canon(df.columns, rows) == driver_sim.canon(list(rel.columns), want)
                if not ok:
                    self.failures.append(f"{name}: output differs from the oracle")
            except Exception as ex:  # noqa: BLE001 - a failing query is a counted failure
                ok = False
                self.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
            failed += not ok
        con.close()
        return len(QUERIES), failed

    def one_pass(self, i: int, tracer=None) -> tuple[float, list[float]]:
        from spans import catalyst_phases_ms

        from etl_sample_spark.plans import REGISTRY

        steps = []
        t0 = time.perf_counter()
        for name in QUERIES:
            t = time.perf_counter()
            with _span(tracer, "plans.build", query=name):
                df = REGISTRY[name].spark(self.spark, self.sf_dir)
            if tracer:
                with _span(tracer, "catalyst.plan", query=name) as sp:
                    sp.attrs.update(catalyst_phases_ms(df))
            with _span(tracer, "spark.noop_write", query=name):
                df.write.format("noop").mode("overwrite").save()
            steps.append(time.perf_counter() - t)
        return time.perf_counter() - t0, steps

    def check(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (Etl, QueryMix)}
