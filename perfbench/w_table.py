"""table_transform: ``engine.transform_table(mode="auto")`` over a parquet
table into the noop sink.  The rule stays within the typed subset, so
``compiler/typed.py`` and columnar execution do the work; there is no
JSON ingest and no driver collect.

One operation is one rule over the table; one record is one row.  The
output is checked once per run, by fetching it as Arrow and comparing
it with a pyarrow computation over the same rows.
"""

from __future__ import annotations

import os

import gen
import oracle
from harness import Op, plan_layers, write_noop

RULES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rules")
ROWS = 100_000


class Workload:
    name = "table_transform"
    warmup_rounds = 1  # the second run of the plan is still 25% slower

    def __init__(self, seed: int, workdir: str, rows: int = ROWS):
        import pyarrow.parquet as pq
        self.rows = rows
        self.table = gen.lineitem_table(seed, rows)
        self.path = os.path.join(workdir, "lineitem.parquet")
        pq.write_table(self.table, self.path)
        self.ctx = gen.table_context()
        with open(os.path.join(RULES, "table_wide.yaml")) as fh:
            self.rule = fh.read()

    def setup(self, spark) -> None:
        self.spark = spark

    def frame(self):
        from rulemorph_spark.engine import transform_table
        return transform_table(self.spark.read.parquet(self.path), self.rule,
                               context=self.ctx, mode="auto")

    def _run(self):
        df = self.frame()
        write_noop(df)
        return df

    def _check(self, df) -> str | None:
        return oracle.table_difference(oracle.table_wide(self.table, self.ctx),
                                       df.toArrow())

    def ops(self) -> list[Op]:
        return [self.op()]

    def op(self) -> Op:
        return Op("lineitem_wide", self._run, self._check, self.rows,
                  check_once=True)

    def trace_layers(self) -> None:
        self.extra = plan_layers([self.frame()])

    def layer_metrics(self) -> dict:
        return self.extra

    def teardown(self) -> None:
        pass
