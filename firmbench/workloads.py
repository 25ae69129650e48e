"""The benchmark's workloads: one closed-loop client, one pass at a time.

A workload generates its inputs from the seed into its work directory, then
runs passes. Each pass is a list of ops; an op's wall time is what the
end-to-end metrics are built from. Correctness checks run between ops,
outside every op's timed region, and a failed check marks its op failed.

- ``Relational`` (``queries_relational``): eight scan/join/aggregate/window/
  temporal queries from ``driver_queries.QUERIES``, every query once per pass
  in a seed-shuffled order, each written to Spark's noop sink. The first
  warm-up pass collects each result instead and compares it bit for bit with
  the query's DuckDB oracle.
- ``Dag`` (``dag_refresh_incremental``): the firmographics DAG. Each pass
  starts from an empty warehouse, lands the first RAW batch and runs the full
  refresh (op ``refresh``), then re-lands every company with ~5 % moved HQs
  and changed ranks and runs the incremental update through both SCD2
  snapshots (op ``incremental``). Every table's row count is checked against
  the generator after each op, and the moved companies' new cities in
  ``dim_location`` after ``incremental``.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from firmbench import checks, datagen
from unified_firmographic_data_pipeline_spark.plans.driver_queries import ORACLES, QUERIES
from unified_firmographic_data_pipeline_spark.plans.firmographics import GRAPH
from unified_firmographic_data_pipeline_spark.sources.catalog import Catalog
from unified_firmographic_data_pipeline_spark.sources.landing import read_json_landing


@dataclass
class Op:
    name: str
    seconds: float
    failures: list[str] = field(default_factory=list)


class Relational:
    name = "queries_relational"
    #: one or two queries per shape: scan+aggregate, multi-join, semi-join on
    #: an aggregate, window distinct, grouping sets through SQL, top-n window,
    #: range join and as-of join. Each query adds ~0.6 s to a warm pass and
    #: ~1.5 s to the cold one, so the set is sized to the run budget.
    QUERIES = [
        "q01_pricing_summary", "q05_local_supplier_volume", "q18_large_volume_orders",
        "q21_sole_late_supplier", "grouping_sets_sql", "window_topn_per_group",
        "range_join_clicks_before_purchase", "asof_purchase_last_click",
    ]
    #: lineitem 60k rows; per-query time is mostly fixed overhead at this
    #: size, so larger inputs would mainly lengthen the run
    SF = 0.01
    #: the cold pass, which also checks every result against its oracle, and
    #: one noop pass; timed passes 3-4 fall by <15 % from one to the next
    WARMUP_PASSES = 2

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.tracer = spark, tracer
        self.data = os.path.join(work, "tables")
        self.rng = random.Random(seed)
        self.seed = seed

    def generate(self) -> None:
        datagen.write_parquet_tables(self.data, datagen.relational_tables(self.seed, self.SF))

    def rows_landed(self) -> int:
        return 0

    def run_pass(self, index: int) -> list[Op]:
        check = index == 0
        order = self.QUERIES[:]
        self.rng.shuffle(order)
        ops, tr = [], self.tracer
        for name in order:
            t0 = time.perf_counter()
            try:
                with tr.span(name, "op"):
                    with tr.span(f"construct {name}", "construct"):
                        df = QUERIES[name](self.spark, self.data)
                    with tr.span(f"write {name}", "write", df):
                        if check:
                            result = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                op = Op(name, time.perf_counter() - t0)
            except Exception as exc:  # an op that raises is counted, not fatal
                ops.append(Op(name, time.perf_counter() - t0, [f"{name}: {exc!r}"[:500]]))
                continue
            if check:
                op.failures = self._oracle_check(name, result)
            ops.append(op)
        return ops

    def _oracle_check(self, name: str, result) -> list[str]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in glob.glob(os.path.join(self.data, "*.parquet")):
                table = os.path.basename(t)[: -len(".parquet")]
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{t}'")
            return checks.compare_bit_exact(name, result, con.execute(ORACLES[name]).df())
        finally:
            con.close()


class Dag:
    name = "dag_refresh_incremental"
    #: companies per source; DAG time is dominated by its ~300 jobs per
    #: cycle, not by row volume, so a larger landing only lengthens the
    #: cold first cycle
    N_COMPANIES = 1000
    N_DOCS = 32
    WARMUP_PASSES = 1
    SOURCES = (("wikipedia_sp500", "wiki_sp500", "wiki"), ("fortune500", "fortune_500", "fortune"))

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.landing = os.path.join(work, "landing")
        self.warehouse = os.path.join(work, "warehouse")

    def generate(self) -> None:
        fx = datagen.firmographic_batches(self.seed, self.N_COMPANIES, self.N_DOCS)
        for tag, wiki, fortune in (
            ("t0", fx.wiki_docs, fx.fortune_docs),
            ("t1", fx.wiki_docs_t1, fx.fortune_docs_t1),
        ):
            datagen.write_json_docs(os.path.join(self.landing, tag), "wiki", wiki)
            datagen.write_json_docs(os.path.join(self.landing, tag), "fortune", fortune)
        self.fx = fx

    def rows_landed(self) -> int:
        """Company records landed per pass (both sources, both batches)."""
        fx = self.fx
        return sum(len(d) for d in fx.wiki_docs + fx.wiki_docs_t1) + sum(
            len(d["items"]) for d in fx.fortune_docs + fx.fortune_docs_t1
        )

    def run_pass(self, index: int) -> list[Op]:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        if self.tracer.enabled:
            catalog = TracedCatalog(self.spark, self.warehouse, self.tracer)
        else:
            catalog = Catalog(self.spark, self.warehouse)
        ops = []
        for phase, tag, ts in (("refresh", "t0", datagen.T0), ("incremental", "t1", datagen.T1)):
            t0 = time.perf_counter()
            try:
                with self.tracer.span(phase, "op"), _traced_models(GRAPH, self.tracer):
                    self._land(catalog, tag, ts, first=phase == "refresh")
                    GRAPH.run(self.spark, catalog)
            except Exception as exc:  # the warehouse is now undefined: end the pass
                ops.append(Op(phase, time.perf_counter() - t0, [f"{phase}: {exc!r}"[:500]]))
                break
            ops.append(Op(phase, time.perf_counter() - t0, self._check(catalog, phase)))
        return ops

    def _land(self, catalog, tag: str, ts, first: bool) -> None:
        with self.tracer.span(f"land {tag}", "land"):
            for source, table, prefix in self.SOURCES:
                raw = read_json_landing(
                    self.spark, os.path.join(self.landing, tag), source, glob=f"{prefix}_*.json"
                ).withColumn("ingested_at", F.lit(ts))
                (catalog.overwrite if first else catalog.append)(raw, "raw", table)

    def _check(self, catalog, phase: str) -> list[str]:
        import pyarrow.parquet as pq

        expected = self.fx.expected_rows(phase)
        counts = {t: checks.table_rows(catalog.path(*t.split("."))) for t in expected}
        failures = checks.dag_row_counts(counts, expected)
        if phase == "incremental":
            dim = pq.read_table(
                catalog.path("analytics", "dim_location"),
                columns=["location_key", "headquarters_city", "headquarters_state"],
            ).to_pandas()
            failures += checks.moved_cities(dim, self.fx.moved)
        return failures


@contextmanager
def _traced_models(graph, tracer):
    """Wrap every model and data-test callable in a span (traced run only)."""
    if not tracer.enabled:
        yield
        return
    saved = {name: (spec.fn, spec.tests) for name, spec in graph.models.items()}

    def wrap(fn, name, layer):
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    for name, spec in graph.models.items():
        spec.fn = wrap(spec.fn, f"build {name}", "construct")
        if spec.tests is not None:
            spec.tests = wrap(spec.tests, f"test {name}", "test")
    try:
        yield
    finally:
        for name, (fn, tests) in saved.items():
            graph.models[name].fn, graph.models[name].tests = fn, tests


class TracedCatalog(Catalog):
    """A ``Catalog`` whose writes are spans carrying the rows and bytes of the
    files each write added (traced run only)."""

    def __init__(self, spark, root: str, tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def _traced(self, write, df, schema: str, table: str, *args) -> None:
        path = self.path(schema, table)
        before = set(glob.glob(os.path.join(path, "*.parquet")))
        with self.tracer.span(f"write {schema}.{table}", "write", df) as s:
            write(df, schema, table, *args)
        new = [f for f in glob.glob(os.path.join(path, "*.parquet")) if f not in before]
        s.rows_written = checks.parquet_rows(new)
        s.bytes_written = sum(os.path.getsize(f) for f in new)

    def overwrite(self, df, schema, table, partition_by=None):
        self._traced(super().overwrite, df, schema, table, partition_by)

    def append(self, df, schema, table):
        self._traced(super().append, df, schema, table)
