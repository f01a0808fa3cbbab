"""sql_analytics: SQL text through ``Engine.sql(...).collect()``.

Six templates (TPC-H q1/q3/q5/q6/q10 shapes and one events time-window
aggregate) run four times per cycle in a seeded order with seeded dates,
segments and regions, so plans repeat while predicates vary.  The
tables (~17 MB of Parquet) fit in memory; nothing is written.  Every
result must match DuckDB running the same SQL on the same files, in a
process of its own (``perfbench.oracle``).
"""

from __future__ import annotations

import datetime as dt
import math
import os

from parquet_to_sql_spark.catalog import TABLES, table_path
from parquet_to_sql_spark.sql import Engine

from perfbench import inputs
from perfbench.harness import Workload
from perfbench.oracle import Oracle


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b


class SqlAnalytics(Workload):
    def setup(self) -> None:
        data = os.path.join(self.work, "tables")
        rows = inputs.in_child(inputs.make_tables, self.seed, data)
        self.fact_rows = {
            name: sum(rows[t] for t in tables) for name, tables in inputs.SQL_FACT_TABLES.items()
        }
        self.engine = Engine(self.spark)
        self.engine.register_fixtures(data)
        self.oracle = Oracle()
        for t in TABLES:
            self.oracle.query(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(data, t)}')"
            )
        warm = dict(inputs.sql_cycle(self.seed, inputs.WARMUP))  # warm-up: each template once
        for spec in warm.items():
            self.run(spec, None)

    def cycle(self, n: int) -> list:
        return inputs.sql_cycle(self.seed, n)

    def shape(self, spec) -> str:
        return spec[0]

    def run(self, spec, prepared):
        name, sql = spec
        with self.tracer.span("sql.analyze"):
            df = self.engine.sql(sql)
        with self.tracer.span("sql.execute"):
            rows = df.collect()
        return self.fact_rows[name], rows

    def check(self, spec, prepared, rows) -> None:
        want = self.oracle.query(spec[1])
        got = [tuple(r) for r in rows]
        if len(got) != len(want):
            raise AssertionError(f"{spec[0]}: {len(got)} rows, oracle {len(want)}")
        for i, (g, w) in enumerate(zip(got, want)):
            if len(g) != len(w) or not all(_same(a, b) for a, b in zip(g, w)):
                raise AssertionError(f"{spec[0]} row {i}: {g} != oracle {w}")

    def unsampled(self) -> set[int]:
        return {self.oracle.proc.pid}

    def close(self) -> None:
        if hasattr(self, "oracle"):
            self.oracle.close()
