"""The closed-loop workloads: one client, one operation at a time.

Each workload exposes ``prepare`` (generate inputs, outside timing),
``setup`` (what a fresh process pays before its first operation; timed
as ``setup_s``), ``run`` (the timed operations) and ``verify`` (the
correctness verdict, outside timing). Every call into the engine goes
through a public function of one of its modules; in a traced run each
such call is a span.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import gen, oracle
from perfbench.trace import PACKAGE, Tracer, WriteRecorder, layer_of, parquet_files

# one query per mechanism the roadmap targets, every named layer covered;
# together they fit one cold pass into the run budget (see README.md)
CURATION_STREAM_QUERIES = (
    "dedup_components_rcte",  # operators.dedup: MinHash pairs + hop-capped label propagation
    "sim_kmeans_train",  # operators.similarity: the Lloyd loop
    "t_quality_filter",  # operators.curation
    "t_pmi_cooccurrence",  # operators.textops
    "s_stream_join_attrib",  # streaming.ingest: stream-static join per trigger
    "s_stream_t_closeness",  # streaming.ingest: applyInPandasWithState
    "s_stream_quarantine_rate",  # streaming.ingest: admission gate + global aggregate
)
# etl_daily sizing: T stock tickers (+7 FX pairs), H backfill days, D daily batches
ETL_TICKERS = 50
ETL_BACKFILL_DAYS = 5
ETL_DAILY_BATCHES = 1
SYMBOLS_SNAPSHOT = dt.date(2024, 1, 2)


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    error: str = ""


@dataclass
class RunResult:
    ops: list[Op] = field(default_factory=list)
    run_s: float = 0.0
    backfill_s: float = 0.0
    rows: int = 0
    extra: dict = field(default_factory=dict)


def warm_up(spark) -> None:
    """One small job, so the session is fully up before the first
    operation. Python workers start on first use, inside the timed
    region, as they do for every fresh process."""
    par = spark.sparkContext.defaultParallelism
    spark.range(0, 10_000, numPartitions=par).selectExpr("sum(id)").collect()


class QueryWorkload:
    """A pass over registered queries against the seeded corpus copy.
    One operation = build the query, then collect its rows (which the
    oracle verdict reuses, so no query executes twice)."""

    def __init__(self, names: tuple[str, ...]):
        self.names = names

    def prepare(self, rng: np.random.Generator, work: str, cache: oracle.OracleCache) -> dict:
        self.data = os.path.join(work, "data")
        self.cache = cache
        stats = gen.write_corpus(rng, self.data, cache.tables)
        self.input_rows = sum(stats[t]["rows"] for n in self.names for t in oracle.tables_read(n))
        return {"queries": list(self.names), "tables": stats, "input_rows_per_pass": self.input_rows}

    def setup(self, spark) -> None:
        from securities_data_pipeline_spark.sources.validated import validated_table

        warm_up(spark)
        for name in ("events", "embeddings"):
            validated_table(spark, self.data, name).count()

    def instrument(self, tracer: Tracer) -> None:
        """Spans for the source layers the queries call into."""
        import importlib

        mods = [importlib.import_module(f"{PACKAGE}.{m}") for m in (
            "operators.dedup", "operators.similarity", "operators.curation",
            "operators.textops", "streaming.ingest", "sources.validated", "sources.tables",
        )]
        for m in mods:
            tracer.patch(m, [n for n in ("table", "materialize", "materialize_eager", "spread")
                             if hasattr(m, n)], "sources.tables")
        validated = mods[-2]
        tracer.patch(validated, ["validated_table", "validated_events", "validated_embeddings"])

    def run(self, spark, tracer: Tracer) -> RunResult:
        from securities_data_pipeline_spark.registry import all_queries

        qs = all_queries()
        res = RunResult(rows=self.input_rows)
        self.results: dict[str, tuple[list, list, dict]] = {}
        t_run = time.perf_counter()
        for name in self.names:
            fn = qs[name]
            t0 = time.perf_counter()
            try:
                with tracer.span(name, layer_of(fn.__module__)):
                    df = fn(spark, self.data)
                    rows = [tuple(r) for r in df.collect()]
            except Exception as ex:  # an erroring query is a failed op, not a crashed run
                res.ops.append(Op(name, time.perf_counter() - t0, False, f"{type(ex).__name__}: {ex}"[:300]))
                continue
            res.ops.append(Op(name, time.perf_counter() - t0, True))
            self.results[name] = (df.columns, rows, dict(df.dtypes))
        res.run_s = time.perf_counter() - t_run
        # each stream query starts from an empty checkpoint and works off
        # the whole event backlog in its first trigger: this workload's backfill
        res.backfill_s = sum(op.seconds for op in res.ops if op.name.startswith("s_stream_"))
        return res

    def verify(self, res: RunResult) -> None:
        errs = oracle.check_queries(self.cache, self.data, self.results)
        for op in res.ops:
            if op.ok and errs.get(op.name):
                op.ok, op.error = False, errs[op.name]


class EtlDaily:
    """Backfill H trading days into an empty lake, then ingest D daily
    ``[day-1, day]`` batches. One operation = one daily batch:
    ``read_wide_price_csv`` for stocks and FX, then ``etl_flow`` with
    its check suite."""

    def prepare(self, rng: np.random.Generator, work: str, cache: oracle.OracleCache) -> dict:
        self.work = work
        self.passes = 0
        csv_dir = os.path.join(work, "csv")
        os.makedirs(csv_dir)
        self.scn = gen.PriceScenario(rng, ETL_TICKERS, ETL_BACKFILL_DAYS, ETL_DAILY_BATCHES)
        self.batches = [
            self.scn.write_batch(days, csv_dir, f"b{i:03d}")
            for i, days in enumerate(self.scn.batches())
        ]
        self.expected: dict = {}
        for b in self.batches:
            self.expected.update(b["rows"])
        self.csv_bytes = sum(os.path.getsize(b[k]) for b in self.batches for k in ("sp_stocks", "fx"))
        return {
            "tickers": ETL_TICKERS,
            "fx_pairs": len(gen.FX_PAIRS),
            "backfill_days": ETL_BACKFILL_DAYS,
            "daily_batches": ETL_DAILY_BATCHES,
            "stock_csv_columns": 1 + len(gen.FIELDS) * ETL_TICKERS,
            "fx_csv_columns": 1 + len(gen.FIELDS) * len(gen.FX_PAIRS),
            "long_rows_ingested": sum(len(b["rows"]) for b in self.batches),
            "csv_bytes": self.csv_bytes,
        }

    def setup(self, spark) -> None:
        warm_up(spark)

    def instrument(self, tracer: Tracer) -> None:
        from securities_data_pipeline_spark import pipeline

        tracer.patch(pipeline, ["transform_fx_symbols", "transform_prices", "transform_stock_symbols"])
        tracer.patch(pipeline, ["load_fx_symbols", "load_prices", "load_stock_symbols"])
        tracer.patch(pipeline, ["build_star_schema", "register_views"])
        tracer.patch(
            pipeline,
            ["check_unique", "check_not_null", "check_accepted_values", "check_relationships", "run_checks"],
        )

    def run(self, spark, tracer: Tracer) -> RunResult:
        from securities_data_pipeline_spark import pipeline
        from securities_data_pipeline_spark.schemas import RAW_STOCK_SYMBOLS
        from securities_data_pipeline_spark.sources.wide_csv import read_wide_price_csv

        read_csv = tracer.wrap(read_wide_price_csv)
        etl_flow = tracer.wrap(pipeline.etl_flow)
        symbols = spark.createDataFrame(self.scn.symbols_rows(), RAW_STOCK_SYMBOLS)
        # every pass starts from an empty lake
        self.passes += 1
        self.lake = os.path.join(self.work, f"lake{self.passes}")
        writes = WriteRecorder()
        res = RunResult()
        t_run = time.perf_counter()
        with writes.installed(tracer.enabled):
            for i, b in enumerate(self.batches):
                t0 = time.perf_counter()
                name = "backfill" if i == 0 else f"day{i}"
                try:
                    out = etl_flow(
                        spark,
                        self.lake,
                        raw_fx_prices_wide=read_csv(spark, b["fx"]),
                        raw_stock_prices_wide=read_csv(spark, b["sp_stocks"]),
                        raw_stock_symbols=symbols,
                        date_stamp=SYMBOLS_SNAPSHOT,
                    )
                except Exception as ex:  # an erroring batch is a failed op
                    op = Op(name, time.perf_counter() - t0, False, f"{type(ex).__name__}: {ex}"[:300])
                else:
                    bad = [f"{c.name}: {c.violations}" for c in out.checks if not c.passed]
                    op = Op(name, time.perf_counter() - t0, not bad, "; ".join(bad))
                    self.result = out
                if i == 0:
                    res.backfill_s = op.seconds
                    self.backfill_op = op
                else:
                    res.ops.append(op)
        res.run_s = time.perf_counter() - t_run
        res.rows = sum(len(b["rows"]) for b in self.batches)
        if tracer.enabled:
            res.extra = {
                "load.bytes_written": writes.bytes,
                "load.files_written": writes.files,
                "load.write_amplification": writes.bytes / self.csv_bytes,
                "load.lake_files": parquet_files(self.lake)[0],
            }
        return res

    def verify(self, res: RunResult) -> None:
        if not self.backfill_op.ok:
            # nothing downstream of a failed backfill is meaningful
            for op in res.ops:
                op.ok, op.error = False, op.error or "backfill failed: " + self.backfill_op.error
            return
        last = res.ops[-1] if res.ops else self.backfill_op
        if not last.ok:
            return
        err = oracle.check_star_schema(self.result.models, self.expected, self.scn, SYMBOLS_SNAPSHOT)
        if err:
            last.ok, last.error = False, err


def build_oracle_cache(work: str, cache_dir: str) -> oracle.OracleCache:
    """The benchmark's build step: DuckDB oracle answers for the query
    workload, computed once per checkout by whichever run comes first
    (``dedup_components_rcte``'s recursive oracle alone takes 1-2 min),
    before Spark starts, so no run that times anything pays for it."""
    cache = oracle.OracleCache(cache_dir, gen.corpus_content())
    if not cache.complete(CURATION_STREAM_QUERIES):
        data = os.path.join(work, "oracle-data")
        gen.write_corpus(np.random.default_rng(0), data, cache.tables)
        cache.answers(data, list(CURATION_STREAM_QUERIES))
        shutil.rmtree(data)
    return cache


WORKLOADS = {
    "curation_stream": lambda: QueryWorkload(CURATION_STREAM_QUERIES),
    "etl_daily": EtlDaily,
}
