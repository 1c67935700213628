"""The workloads.

Each workload has an untimed ``setup`` (inputs and reference answers), an
untimed ``warmup`` pass whose outputs are checked, and ``timed_pass``,
which returns the pass's wall time and checks its outputs after the
clock stops. With a ``Tracer`` the same calls open spans per layer.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, DataFrameReader
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from catme_etl_j_spark.converter import api
from catme_etl_j_spark.converter import reader as reader_mod
from catme_etl_j_spark.converter.xlsx import XlsxWorkbook

import fixtures
from spans import Tracer, patched

# Iterative queries, eagerly checkpointed between rounds: most of their
# time is driver-side construction (many small Spark jobs).
LOOP_QUERIES = ("graph_lpa_communities", "dedup_minhash_keep")


@dataclass
class PassResult:
    run_s: float
    rows: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    output_bytes: int = 0
    # filled in by the runner around the pass
    steal: float = 0.0
    driver_mb: float = 0.0
    worker_mb: float = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, work: str, tables: str) -> None:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tables = tables
        self.setup_layers: dict[str, float] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> PassResult:
        raise NotImplementedError

    def timed_pass(self, tracer: Tracer | None) -> PassResult:
        raise NotImplementedError


# --- converter workload ---


class ConvertBigsheet(Workload):
    name = "convert_bigsheet"

    def setup(self) -> None:
        self.source = os.path.join(self.work, "in", "bigsheet.xlsx")
        os.makedirs(os.path.dirname(self.source), exist_ok=True)
        fixtures.write_bigsheet(self.source, self.seed)
        self.input_bytes = os.path.getsize(self.source)
        self.ref = fixtures.Reference(self.source)
        self.setup_layers["xlsx.iter_rows_per_s"] = self.ref.iter_rows_per_s
        self.setup_layers["formats.render_per_s"] = fixtures.render_rate(
            fixtures.cell_mix(self.seed)
        )
        self.out = os.path.join(self.work, "out", f"{self.name}.ndjson")
        os.makedirs(os.path.dirname(self.out), exist_ok=True)
        self.last_frame: DataFrame | None = None

    def _convert(self, res: PassResult) -> None:
        res.attempted += 1
        try:
            got = api.convert(self.source, "NDJSON", self.out, overwrite=True, spark=self.spark)
        except Exception as e:  # a failed conversion is a failed operation
            res.fail(f"convert raised {type(e).__name__}: {e}")
            return
        res.rows = got.rows_written

    def _check(self, res: PassResult) -> None:
        if res.failed:
            return
        if not os.path.exists(self.out):
            res.fail("no output file")
            return
        res.output_bytes = os.path.getsize(self.out)
        if res.rows != self.ref.rows or fixtures.file_digest(self.out) != self.ref.digest:
            res.fail(f"output differs from reference ({res.rows} vs {self.ref.rows} rows)")
        os.remove(self.out)

    def warmup(self) -> PassResult:
        """Two checked conversions: the first timed pass after only one
        still ran ~10% slower than the rest."""
        res = PassResult(0.0)
        for _ in range(2):
            self.spark.catalog.clearCache()
            self._convert(res)
            self._check(res)
        return res

    def timed_pass(self, tracer: Tracer | None) -> PassResult:
        self.spark.catalog.clearCache()
        res = PassResult(0.0)
        if tracer is None:
            t0 = time.perf_counter()
            self._convert(res)
            res.run_s = time.perf_counter() - t0
        else:
            res.run_s = self._traced_convert(tracer, res)
        self._check(res)
        return res

    def _traced_convert(self, tracer: Tracer, res: PassResult) -> float:
        def keep_frame(sp, df):
            self.last_frame = df
            sp.attrs["slices"] = (
                df.rdd.getNumPartitions() if getattr(df, "_catme_slice_ordered", False) else 0
            )

        def spool_size(sp, meta):
            sp.attrs["spool_bytes"] = meta["file_size"] if meta else 0

        with patched(tracer, api, "read_xlsx", "reader.read_xlsx", keep_frame), \
                patched(tracer, XlsxWorkbook, "spool_sheet", "reader.spool", spool_size), \
                patched(tracer, api, "write_ndjson", "sinks.write_ndjson"):
            with tracer.span("converter.convert") as sp:
                self._convert(res)
        tracer.resolve()
        # parse-only pass over the same frame: the sink's share is the
        # write minus this (outside run_s)
        if self.last_frame is not None and not res.failed:
            with tracer.span("xlsx.parse"):
                self.last_frame.write.format("noop").mode("overwrite").save()
            tracer.resolve()
        return sp.duration


# --- query workload ---


class QueryLoops(Workload):
    name = "query_loops"

    def setup(self) -> None:
        import duckdb

        from __spark_entry__ import oracle_sql, queries
        from selfcheck import _norm_rows

        self._norm = _norm_rows
        self.order = list(LOOP_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        fns = queries()
        self.fns = {n: fns[n] for n in self.order}
        oracles = oracle_sql()
        con = duckdb.connect()
        for t in os.listdir(self.tables):
            if t.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(self.tables, t)}'"
                )
        self.expected = {}
        for n in self.order:
            rel = con.sql(oracles[n])
            cols = [c.lower() for c in rel.columns]
            self.expected[n] = (sorted(cols), _norm_rows(cols, rel.fetchall()))
        con.close()
        self.rows = 0

    def warmup(self) -> PassResult:
        """Build and collect every query once, checking each result
        against its DuckDB oracle twin."""
        self.spark.catalog.clearCache()
        res = PassResult(0.0)
        rows = 0
        for n in self.order:
            res.attempted += 1
            try:
                df = self.fns[n](self.spark, self.tables)
                got = [tuple(r) for r in df.collect()]
            except Exception as e:
                res.fail(f"{n} raised {type(e).__name__}: {e}")
                continue
            cols = [c.lower() for c in df.columns]
            if (sorted(cols), self._norm(cols, got)) != self.expected[n]:
                res.fail(f"{n}: result differs from its oracle")
            rows += len(got)
        self.rows = res.rows = rows
        return res

    def timed_pass(self, tracer: Tracer | None) -> PassResult:
        self.spark.catalog.clearCache()
        res = PassResult(0.0, rows=self.rows)
        if tracer is None:
            t0 = time.perf_counter()
            for n in self.order:
                self._run(n, res)
            res.run_s = time.perf_counter() - t0
            return res
        # spans around construction and execution; schema-inference reads
        # and eager checkpoints open nested spans
        with patched(tracer, DataFrameReader, "parquet", "sources.read"), \
                patched(tracer, ClassicDataFrame, "localCheckpoint", "operators.checkpoint"):
            for n in self.order:
                t0 = time.perf_counter()
                self._run(n, res, tracer)
                res.run_s += time.perf_counter() - t0
                tracer.resolve()
        return res

    def _run(self, n: str, res: PassResult, tracer: Tracer | None = None) -> None:
        res.attempted += 1
        try:
            if tracer is None:
                self.fns[n](self.spark, self.tables).write.format("noop").mode(
                    "overwrite"
                ).save()
                return
            with tracer.span("operators.construct", query=n):
                df = self.fns[n](self.spark, self.tables)
            with tracer.span("operators.exec", query=n):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            res.fail(f"{n} raised {type(e).__name__}: {e}")


def spool_leak_bytes() -> int:
    """Bytes of sheet spools left in the run's temp dir that are not
    registered for the reader's clean-up at exit."""
    tmp = os.environ["TMPDIR"]
    registered = set(reader_mod._SPOOLS)
    return sum(
        os.path.getsize(os.path.join(tmp, name))
        for name in os.listdir(tmp)
        if name.startswith("catme_sheet_spool_") and os.path.join(tmp, name) not in registered
    )


# per-layer figures measured at set-up, by the workload whose inputs allow
SETUP_LAYERS = ("xlsx.iter_rows_per_s", "formats.render_per_s")

WORKLOADS = {w.name: w for w in (ConvertBigsheet, QueryLoops)}
