"""import_mix: Parquet -> Postgres imports through Importer + CopySink.

Each cycle is twice one large file (~250K rows) then seven small ones
(~5K rows); every request picks one of two target tables and truncates
it first half the time.  Small files put the per-call fixed cost (job
launch, footer read, connection, TRUNCATE) in the median latency; the
large ones put the per-row cost (COPY rendering, JVM->Python rows,
the wire, server WAL) in rows/s.  After each op the target table's row
count and column checksums must equal what the generator wrote.
"""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F

from parquet_to_sql_spark.importer import Importer
from parquet_to_sql_spark.normalize import copy_lines
from parquet_to_sql_spark.sinks import pg_wire
from parquet_to_sql_spark.sinks.copy_pg import (
    DEFAULT_BATCH_SIZE,
    DEFAULT_TIMEOUT_S,
    CopySink,
    copy_partition,
)
from parquet_to_sql_spark.sources.parquet import ParquetSource

from perfbench import inputs
from perfbench.harness import Workload
from perfbench.pgcluster import PgCluster

PROBE_TABLE = "import_probe"
_EMPTY = (0, 0, 0, 0, 0)
_CHECKSUM_SQL = (
    "SELECT count(*), coalesce(sum(l_orderkey), 0), "
    "coalesce(sum(l_quantity) * 100, 0)::bigint, "
    "coalesce(sum(length(l_comment)), 0), count(*) - count(l_comment) FROM {}"
)
_STATS_SQL = (
    "SELECT (SELECT xact_commit FROM pg_stat_database WHERE datname = current_database()), "
    "(SELECT wal_bytes FROM pg_stat_wal), "
    "(SELECT count(*) FROM pg_stat_activity "
    " WHERE backend_type = 'client backend' AND pid <> pg_backend_pid()), "
    "pg_stat_force_next_flush()"
)


class TracedSink:
    """Times the sink's write inside the Importer."""

    def __init__(self, sink: CopySink, tracer):
        self.sink, self.tracer = sink, tracer

    def write(self, df, table: str, truncate: bool = False) -> int:
        with self.tracer.span("sinks.copy_pg.write"):
            return self.sink.write(df, table, truncate=truncate)


class ImportMix(Workload):
    def setup(self) -> None:
        self.pg = PgCluster(os.path.join(self.work, "pg"))
        self.pg.start()
        self.small, self.large = inputs.in_child(
            inputs.make_import_files, self.seed, os.path.join(self.work, "import")
        )
        for t in (*inputs.IMPORT_TABLES, PROBE_TABLE):
            self.pg.query(f"CREATE TABLE {t} ({inputs.IMPORT_DDL})")
        self.importer = Importer(self.spark, TracedSink(CopySink(self.pg.dsn), self.tracer))
        self.expected = {t: _EMPTY for t in inputs.IMPORT_TABLES}
        self.stats_conn = pg_wire.connect(self.pg.dsn)
        self.stats_txns = 0
        for f in (self.small[0], self.large):  # warm-up: each op shape once
            self.run(inputs.ImportOp(f, inputs.IMPORT_TABLES[0], True), None)
        self.pg.query(f"TRUNCATE {', '.join(inputs.IMPORT_TABLES)}")

    def cycle(self, n: int) -> list:
        return inputs.import_cycle(self.seed, n, self.small, self.large)

    def shape(self, op) -> str:
        return "large" if op.file is self.large else "small"

    def run(self, op, prepared):
        with self.tracer.span("sources.bind"):
            df = ParquetSource(self.spark, op.file.path).load()
        res = self.importer.import_(op.file.path, op.table, reader=df, truncate=op.truncate)
        return res.rows_imported, res

    def check(self, op, prepared, res) -> None:
        before = _EMPTY if op.truncate else self.expected[op.table]
        want = tuple(a + b for a, b in zip(before, op.file.checksum))
        self.expected[op.table] = None  # unknown until verified
        if res.rows_imported != op.file.rows:
            raise AssertionError(f"{res.rows_imported} rows reported, {op.file.rows} in file")
        got = tuple(int(v) for v in self.pg.query(_CHECKSUM_SQL.format(op.table))[0])
        if got != want:
            raise AssertionError(f"{op.table}: checksum {got} != expected {want}")
        self.expected[op.table] = want

    def recover(self, op) -> None:
        self.pg.query(f"TRUNCATE {op.table}")
        self.expected[op.table] = _EMPTY

    def _stats(self) -> tuple[int, int]:
        """(xact_commit, wal_bytes) once no other client is connected: a
        writer's counts reach the statistics only when its backend exits."""
        deadline = time.monotonic() + 10
        while True:
            cur = self.stats_conn.cursor()
            cur.execute(_STATS_SQL)
            commits, wal, others, _ = cur.fetchone()
            self.stats_conn.commit()
            self.stats_txns += 1
            if int(others) == 0 or time.monotonic() > deadline:
                return int(commits), int(wal)
            time.sleep(0.01)

    def counters_begin(self):
        return self._stats(), self.stats_txns

    def counters_end(self, before) -> dict:
        (c0, w0), txn0 = before
        c1, w1 = self._stats()
        # each stats query is a committed transaction of our own
        return {"pg.commits": c1 - c0 - (self.stats_txns - txn0), "pg.wal_bytes": w1 - w0}

    def probe(self, op, prepared, res) -> dict:
        df = ParquetSource(self.spark, op.file.path).load()
        with self.tracer.span("normalize.render"):
            rows, nbytes = copy_lines(df).agg(
                F.count(F.lit(1)), F.sum(F.octet_length("line") + 1)
            ).collect()[0]
        lines = [r.line for r in copy_lines(df).collect()]
        self.pg.query(f"TRUNCATE {PROBE_TABLE}")
        t0 = time.perf_counter()
        with self.tracer.span("sinks.pg_wire.copy"):
            copy_partition(
                lines, dsn=self.pg.dsn, table=PROBE_TABLE, columns=df.columns,
                batch_size=DEFAULT_BATCH_SIZE, timeout_s=DEFAULT_TIMEOUT_S,
                connection_factory=pg_wire.connect,
            )
        wire_s = time.perf_counter() - t0
        self.pg.query(f"TRUNCATE {PROBE_TABLE}")
        return {"copy_rows": rows, "copy_bytes": nbytes, "wire_s": wire_s}

    def close(self) -> None:
        try:
            if hasattr(self, "stats_conn"):
                self.stats_conn.close()
        finally:
            if hasattr(self, "pg"):
                self.pg.stop()
