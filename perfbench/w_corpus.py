"""corpus_pipeline: a declared ``llm.pipeline.compile_pipeline`` spec over
a seeded corpus (c4_clean → gopher_filter → dedup_exact →
remove_dup_spans → pii_redact → chunk), then ``bm25_search``,
``semdedup`` and an exact top-k cosine search, each into the noop sink.

One operation is one full pass; one record is one input document or
vector.  Outputs are checked once per run: BM25 scores and the exact
top-k against NumPy (ties allowed at the cut), semdedup and dedup_exact
by their defining properties, pii_redact and chunk by what their output
must not contain.

``spans_op`` is a shorter operation for another workload's round: the
declared pipeline dedup_exact → remove_dup_spans alone, checked against
the text a plain-Python cut of the shared span gives.
"""

from __future__ import annotations

import hashlib
import os
import re
import time

import numpy as np

import gen
from harness import Op, plan_layers, write_noop

N_DOCS = 1000
N_VECS = 600
N_TOPK_QUERIES = 16
TOPK = 5
BM25_K = 10
SEMDEDUP_EPS = 0.05
SPEC = {"steps": [
    {"op": "c4_clean", "min_line_words": 3},
    {"op": "gopher_filter"},
    {"op": "dedup_exact"},
    {"op": "remove_dup_spans", "n": 8},
    {"op": "pii_redact"},
    {"op": "chunk", "chunk_tokens": 64, "overlap": 16},
]}
SPANS_SPEC = {"steps": [{"op": "dedup_exact"},
                        {"op": "remove_dup_spans", "n": 8}]}
# the contact strings the generator plants
CONTACT = re.compile(r"user\d+@example\.com|\+1-555-\d{7}")


class Workload:
    name = "corpus_pipeline"

    def __init__(self, seed: int, workdir: str, n_docs: int = N_DOCS,
                 n_vecs: int = N_VECS):
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.workdir = workdir
        self.docs = gen.corpus_documents(seed, n_docs)
        self.queries = gen.bm25_queries(seed, self.docs)
        self.vecs = gen.embeddings(seed, n_vecs)
        self.doc_path = os.path.join(workdir, "documents.parquet")
        self.vec_path = os.path.join(workdir, "embeddings.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in self.docs], pa.int64()),
            "text": [d[1] for d in self.docs]}), self.doc_path)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(self.vecs),
                                  pa.list_(pa.float64()))}), self.vec_path)

    def setup(self, spark) -> None:
        self.spark = spark

    # --- the pass ------------------------------------------------------------

    def _frames(self) -> dict:
        from rulemorph_spark.llm.pipeline import compile_pipeline
        from rulemorph_spark.llm.retrieval import bm25_search
        from rulemorph_spark.llm.semdedup import semdedup
        from rulemorph_spark.llm.similarity import brute_force_topk

        spark = self.spark
        docs = spark.read.parquet(self.doc_path)
        vecs = spark.read.parquet(self.vec_path)
        qdf = spark.createDataFrame(self.queries,
                                    "query_id int, query string")
        return {
            "pipeline": compile_pipeline(SPEC)(docs),
            "bm25": bm25_search(docs, qdf, k=BM25_K),
            "semdedup": semdedup(vecs, "vec_id", "embedding", k=8, iters=2,
                                 eps=SEMDEDUP_EPS),
            "topk": brute_force_topk(
                vecs, vecs.filter(f"vec_id < {N_TOPK_QUERIES}"), "vec_id",
                "embedding", k=TOPK),
        }

    def _run(self) -> dict:
        frames = self._frames()
        for df in frames.values():
            write_noop(df)
        return frames

    def ops(self) -> list[Op]:
        return [Op("full_pass", self._run, self._check,
                   len(self.docs) + len(self.vecs), check_once=True)]

    def spans_frame(self):
        from rulemorph_spark.llm.pipeline import compile_pipeline
        return compile_pipeline(SPANS_SPEC)(
            self.spark.read.parquet(self.doc_path))

    def _run_spans(self):
        df = self.spans_frame()
        write_noop(df)
        return df

    def spans_op(self) -> Op:
        return Op("corpus_spans", self._run_spans,
                  lambda df: check_spans(df.select("doc_id", "text")
                                         .collect(), self.docs),
                  len(self.docs), check_once=True)

    # --- checks --------------------------------------------------------------

    def _check(self, frames: dict) -> str | None:
        from rulemorph_spark.llm.pipeline import compile_pipeline
        docs = self.spark.read.parquet(self.doc_path)

        def prefix(n):
            return compile_pipeline({"steps": SPEC["steps"][:n]})(docs)

        rows = {
            "bm25": frames["bm25"].collect(),
            "topk": frames["topk"].collect(),
            "semdedup": frames["semdedup"].collect(),
            # dedup_exact's input and output, for its property check
            "dedup_in": prefix(2).select("doc_id", "text").collect(),
            "dedup_out": prefix(3).select("doc_id").collect(),
            "chunks": frames["pipeline"].select("chunk_text",
                                                "n_tokens").collect(),
        }
        return check_outputs(rows, self.docs, self.queries, self.vecs)

    # --- traced run ------------------------------------------------------------

    def trace_layers(self) -> None:
        self.extra = plan_layers(self._frames().values())
        self.extra.update(self.operator_times())

    def operator_times(self) -> dict:
        """``llm.<op>.exec_s``: each hot operator timed alone into the
        noop sink, on its own materialised input."""
        from pyspark.sql import functions as F
        from rulemorph_spark.llm import dedup, filters, pipeline
        from rulemorph_spark.llm import text as T
        from rulemorph_spark.llm.retrieval import bm25_search
        from rulemorph_spark.llm.semdedup import semdedup
        from rulemorph_spark.llm.similarity import brute_force_topk

        spark = self.spark
        docs = spark.read.parquet(self.doc_path)
        vecs = spark.read.parquet(self.vec_path)

        def materialise(df, name):
            path = os.path.join(self.workdir, f"{name}.parquet")
            df.write.mode("overwrite").parquet(path)
            return spark.read.parquet(path)

        c4 = materialise(pipeline.compile_pipeline(
            {"steps": SPEC["steps"][:1]})(docs), "c4")
        gopher = materialise(filters.gopher_filter(c4), "gopher")
        deduped = materialise(dedup.dedup_exact(
            gopher, T.fingerprint(F.col("text")), "doc_id"), "deduped")
        qdf = spark.createDataFrame(self.queries, "query_id int, query string")
        runs = {
            "gopher_filter": lambda: filters.gopher_filter(c4),
            "dedup_exact": lambda: dedup.dedup_exact(
                gopher, T.fingerprint(F.col("text")), "doc_id"),
            "remove_dup_spans": lambda: dedup.remove_dup_spans(
                deduped, "text", "doc_id", 8, 2),
            "bm25_search": lambda: bm25_search(docs, qdf, k=BM25_K),
            "semdedup": lambda: semdedup(vecs, "vec_id", "embedding", k=8,
                                         iters=2, eps=SEMDEDUP_EPS),
            "topk": lambda: brute_force_topk(
                vecs, vecs.filter(f"vec_id < {N_TOPK_QUERIES}"), "vec_id",
                "embedding", k=TOPK),
        }
        out = {}
        for name, build in runs.items():
            t0 = time.perf_counter()
            write_noop(build())
            out[f"llm.{name}.exec_s"] = time.perf_counter() - t0
        return out

    def layer_metrics(self) -> dict:
        return self.extra

    def teardown(self) -> None:
        pass


# --- checks (pure functions over collected rows, so the self-test can
# feed them corrupted outputs) -------------------------------------------


def check_outputs(rows: dict, docs, queries, vecs) -> str | None:
    for name, problem in (
            ("bm25", lambda: check_bm25(rows["bm25"], docs, queries)),
            ("topk", lambda: check_topk(rows["topk"], vecs)),
            ("semdedup", lambda: check_semdedup(rows["semdedup"], vecs)),
            ("dedup_exact", lambda: check_dedup_exact(rows["dedup_in"],
                                                      rows["dedup_out"])),
            ("pipeline", lambda: check_chunks(rows["chunks"]))):
        found = problem()
        if found:
            return f"{name}: {found}"
    return None


def check_bm25(rows, docs, queries) -> str | None:
    """Scores and the top-k score list per query match NumPy; which of
    several tied documents fills the last places is not checked."""
    got = {(r["query_id"], r["doc_id"]): r["score"] for r in rows}
    want = bm25_scores(docs, queries)
    for q, scores in want.items():
        mine = sorted((s for (qq, _), s in got.items() if qq == q),
                      reverse=True)
        best = np.sort(scores[scores > 0])[::-1][:BM25_K]
        if len(mine) != len(best) or not np.allclose(mine, best, rtol=1e-9):
            return f"query {q}: top scores {mine[:3]}, expected " \
                   f"{best[:3].tolist()}"
    for (q, d), s in got.items():
        if not np.isclose(s, want[q][d], rtol=1e-9):
            return f"query {q} doc {d}: score {s}, expected {want[q][d]}"
    return None


def check_topk(rows, vecs) -> str | None:
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for q in range(N_TOPK_QUERIES):
        cos = v @ v[q]
        cos[q] = -np.inf
        mine = sorted(((r["cosine"], r["neighbor"]) for r in rows
                       if r["query_id"] == q), reverse=True)
        best = np.sort(cos)[::-1][:TOPK]
        if len(mine) != TOPK:
            return f"query {q}: {len(mine)} neighbours"
        for (c, n), b in zip(mine, best):
            # a neighbour is right when its true cosine ties the expected
            # rank's cosine (any of several tied ids is fine)
            if abs(cos[n] - b) > 1e-6 or abs(c - cos[n]) > 1e-6:
                return f"query {q}: neighbour {n} cos {c}, expected {b:.6f}"
    return None


def check_semdedup(rows, vecs) -> str | None:
    """Kept rows of a cell are pairwise below the near-duplicate
    threshold, and every dropped row is within it of a kept row of its
    cell."""
    if sorted(r["vec_id"] for r in rows) != list(range(len(vecs))):
        return "verdicts do not cover every vector once"
    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    thr = 1.0 - SEMDEDUP_EPS
    cells: dict = {}
    for r in rows:
        cells.setdefault(r["cell"], ([], []))[0 if r["keep"] else 1] \
            .append(r["vec_id"])
    for cell, (kept, dropped) in cells.items():
        if not kept:
            return f"cell {cell} keeps nothing"
        kv = v[kept]
        sim = kv @ kv.T
        np.fill_diagonal(sim, -1.0)
        if sim.max() >= thr + 1e-9:
            return f"cell {cell}: two kept rows are near-duplicates"
        if dropped and (v[dropped] @ kv.T).max(axis=1).min() < thr - 1e-9:
            return f"cell {cell}: a dropped row has no kept near-copy"
    return None


def check_dedup_exact(rows_in, rows_out) -> str | None:
    """Each fingerprint (md5 of the first eight lowercased words, as the
    operator documents) is kept exactly once, by its lowest-id row."""
    lowest: dict = {}
    for r in rows_in:
        fp = fingerprint(r["text"])
        lowest[fp] = min(lowest.get(fp, r["doc_id"]), r["doc_id"])
    kept = sorted(r["doc_id"] for r in rows_out)
    if kept != sorted(lowest.values()):
        return f"kept {len(kept)} rows for {len(lowest)} fingerprints"
    return None


def check_chunks(rows) -> str | None:
    """No planted contact string survives pii_redact, no duplicated
    boilerplate span survives remove_dup_spans, no chunk is too long."""
    if not rows:
        return "no chunks"
    for r in rows:
        if CONTACT.search(r["chunk_text"]):
            return f"unredacted contact in {r['chunk_text'][:80]!r}"
        if r["n_tokens"] > 64:
            return f"chunk of {r['n_tokens']} tokens"
        if gen.BOILERPLATE in r["chunk_text"]:
            return "duplicated boilerplate span survived"
    return None


def check_spans(rows, docs) -> str | None:
    """dedup_exact → remove_dup_spans: one row per fingerprint, by its
    lowest id, and each kept text is what :func:`cut_shared_spans`
    makes of its input."""
    problem = check_dedup_exact([{"doc_id": d, "text": t} for d, t in docs],
                                rows)
    if problem:
        return problem
    text = dict(docs)
    want = cut_shared_spans({r["doc_id"]: text[r["doc_id"]] for r in rows})
    for r in rows:
        if r["text"] != want[r["doc_id"]]:
            return f"doc {r['doc_id']}: text {r['text'][:60]!r}, expected " \
                   f"{want[r['doc_id']][:60]!r}"
    return None


def cut_shared_spans(texts: dict, n: int = 8, min_docs: int = 2) -> dict:
    """Exact-substring trim (Lee et al. 2022) as the operator documents
    it: whitespace tokens; every window of ``n`` lowercased tokens (one
    shorter window for a document under ``n`` tokens) that occurs in at
    least ``min_docs`` documents is cut out; the surviving tokens are
    joined with single spaces."""
    toks = {d: t.split() for d, t in texts.items()}
    grams = {d: [tuple(x.lower() for x in w[i:i + n])
                 for i in range(max(len(w) - n + 1, 1))]
             for d, w in toks.items()}
    seen: dict = {}
    for d, gs in grams.items():
        for g in set(gs):
            seen[g] = seen.get(g, 0) + 1
    out = {}
    for d, w in toks.items():
        cut = set()
        for i, g in enumerate(grams[d]):
            if seen[g] >= min_docs:
                cut.update(range(i, i + n))
        out[d] = " ".join(x for k, x in enumerate(w) if k not in cut)
    return out


def fingerprint(text: str) -> str:
    words = re.split(r"\s+", text.strip().lower())
    return hashlib.md5(" ".join(words[:8]).encode()).hexdigest()


def bm25_scores(docs, queries, k1: float = 1.2, b: float = 0.75) -> dict:
    """{query_id: scores over doc ids} by the BM25+ formula the operator
    documents: tokens are whitespace-split lowercased trimmed text,
    ``idf = ln(1 + (N - df + .5) / (df + .5))`` over documents with at
    least one token, each distinct query term counted once."""
    toks = [[t for t in re.split(r"\s+", text.strip().lower()) if t]
            for _, text in docs]
    ids = np.array([d for d, _ in docs])
    dl = np.array([len(t) for t in toks], dtype=np.float64)
    n_docs = int((dl > 0).sum())
    avgdl = dl[dl > 0].mean()
    out = {}
    for qid, query in queries:
        terms = set(t for t in re.split(r"\s+", query.strip().lower()) if t)
        score = np.zeros(ids.max() + 1)
        for term in terms:
            tf = np.array([t.count(term) for t in toks], dtype=np.float64)
            df = int((tf > 0).sum())
            if df == 0:
                continue
            idf = np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            norm = k1 * ((1.0 - b) + b * dl / avgdl)
            score[ids] += np.where(tf > 0,
                                   idf * tf * (k1 + 1.0) / (tf + norm), 0.0)
        out[qid] = score
    return out
