"""doc_transform: rule documents through the CLI ``transform -v`` path
(``validator.validate_rule``, then ``engine.transform_with_warnings``).

One operation is one document; one record is one input record.  The
extended document is the cold first operation, what a one-shot CLI call
pays; it runs once.  A round is then the lookup and the CSV document
plus two short operations that bring the scale path and the corpus
operators into the same gate: one typed ``engine.transform_table`` pass
over a small parquet table (one record is one row) and the declared
corpus pipeline dedup_exact → remove_dup_spans (one record is one
document).
"""

from __future__ import annotations

import os
import random

import gen
import oracle
import w_corpus
import w_table
from harness import Op, plan_layers

RULES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "rules")
EXTENDED_RECORDS = 600
LOOKUP_RECORDS = 1200
CSV_RECORDS = 1000
TABLE_ROWS = 4000
CORPUS_DOCS = 300
CORPUS_VECS = 200


def _read(name: str) -> str:
    with open(os.path.join(RULES, name), encoding="utf-8") as fh:
        return fh.read()


class Workload:
    name = "doc_transform"
    # round 0 warms every operation; the first timed round is still
    # 10-20% slower than later ones, but an untimed round would take
    # the run time of one of the two or three timed rounds
    warmup_rounds = 0

    def __init__(self, seed: int, workdir: str):
        rng = random.Random(seed)
        self.ctx = gen.doc_context()
        self.lookup_recs = gen.lookup_records(rng, LOOKUP_RECORDS)
        self.ext_recs = gen.extended_records(rng, EXTENDED_RECORDS)
        self.csv_rows = gen.csv_rows(rng, CSV_RECORDS)
        self.lookup_text = gen.dumps({"items": self.lookup_recs})
        self.ext_text = gen.dumps(self.ext_recs)
        self.csv_path = os.path.join(workdir, "doc.csv")
        with open(self.csv_path, "w", encoding="utf-8") as fh:
            fh.write(gen.csv_text(self.csv_rows))
        self.table = w_table.Workload(seed, workdir, rows=TABLE_ROWS)
        self.corpus = w_corpus.Workload(seed, workdir, n_docs=CORPUS_DOCS,
                                        n_vecs=CORPUS_VECS)
        self.first_op = Op(
            "json_extended",
            lambda: self._transform("doc_extended.yaml",
                                    input_text=self.ext_text),
            lambda out: oracle.first_difference(
                oracle.doc_extended(self.ext_recs), out),
            EXTENDED_RECORDS)

    def setup(self, spark) -> None:
        self.spark = spark
        self.table.setup(spark)
        self.corpus.setup(spark)

    def _transform(self, rule_name: str, **inp):
        from rulemorph_spark.engine import transform_with_warnings
        from rulemorph_spark.model import parse_rule_file
        from rulemorph_spark.validator import validate_rule

        text = _read(rule_name)
        errors = validate_rule(parse_rule_file(text))
        if errors:
            raise ValueError(f"validation failed: {errors[0]}")
        out, _warnings = transform_with_warnings(
            self.spark, text, context=self.ctx, base_dir=RULES, **inp)
        return out

    def ops(self) -> list[Op]:
        exp_lookup = oracle.doc_lookup(self.lookup_recs, self.ctx)
        exp_csv = oracle.doc_csv(self.csv_rows, self.ctx)
        return [
            Op("json_lookup",
               lambda: self._transform("doc_lookup.yaml",
                                       input_text=self.lookup_text),
               lambda out: oracle.first_difference(exp_lookup, out),
               LOOKUP_RECORDS),
            Op("csv",
               lambda: self._transform("doc_csv.yaml",
                                       input_path=self.csv_path),
               lambda out: oracle.first_difference(exp_csv, out),
               CSV_RECORDS),
            self.table.op(),
            self.corpus.spans_op(),
        ]

    def trace_layers(self) -> None:
        self.extra = plan_layers([self.table.frame(),
                                  self.corpus.spans_frame()])
        self.extra.update(self.corpus.operator_times())

    def layer_metrics(self) -> dict:
        return self.extra

    def teardown(self) -> None:
        pass
