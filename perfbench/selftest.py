#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: each check must accept a
correct output and reject the same output with one value changed.

    python3 perfbench/selftest.py

Needs no Spark session; the correct outputs come from the independent
computations themselves.  Exits non-zero if any check fails to reject
its corrupted output (or rejects a correct one).
"""

from __future__ import annotations

import copy
import random
import sys

import numpy as np

import gen
import oracle
import w_corpus
import w_endpoint

RESULTS: list[tuple[str, bool]] = []


def expect(name: str, accepts, rejects) -> None:
    """``accepts``/``rejects`` return the check's verdict (None = pass)
    on the correct and on the corrupted output."""
    ok = accepts() is None and rejects() is not None
    RESULTS.append((name, ok))
    print(f"{'ok  ' if ok else 'FAIL'} {name}")


def doc_checks() -> None:
    rng = random.Random(7)
    ctx = gen.doc_context()
    ext = oracle.doc_extended(gen.extended_records(rng, 300))
    look = oracle.doc_lookup(gen.lookup_records(rng, 300), ctx)
    rows = gen.csv_rows(rng, 300)
    csv = oracle.doc_csv(rows, ctx)

    def changed(records, fn):
        out = copy.deepcopy(records)
        fn(out)
        return out

    def bump_net(out):
        out[3]["net"] = out[3]["net"] + 0.01

    def float_kind(out):
        i = next(i for i, o in enumerate(out) if isinstance(o["net"], int))
        out[i]["net"] = float(out[i]["net"])

    def null_for_missing(out):
        i = next(i for i, o in enumerate(out) if "city" not in o["profile"])
        out[i]["profile"]["city"] = None

    def csv_price(out):
        out[0]["price"] = out[0]["price"] + 1.0

    expect("doc_extended value", lambda: oracle.first_difference(ext, ext),
           lambda: oracle.first_difference(ext, changed(ext, bump_net)))
    expect("doc_extended kind (int vs float)",
           lambda: oracle.first_difference(ext, ext),
           lambda: oracle.first_difference(ext, changed(ext, float_kind)))
    expect("doc_lookup missing vs null",
           lambda: oracle.first_difference(look, look),
           lambda: oracle.first_difference(look, changed(look,
                                                         null_for_missing)))
    expect("doc_csv value", lambda: oracle.first_difference(csv, csv),
           lambda: oracle.first_difference(csv, changed(csv, csv_price)))
    # object keys compare without regard to order
    reordered = [dict(reversed(list(o.items()))) for o in ext]
    ok = oracle.first_difference(ext, reordered) is None
    RESULTS.append(("doc key order ignored", ok))
    print(f"{'ok  ' if ok else 'FAIL'} doc key order ignored")


def endpoint_check() -> None:
    req = gen.order_requests(random.Random(3), 1)[0]
    body = oracle.endpoint_reply(req["id"], req["body"])
    bad = dict(body, total=body["total"] + 0.01)
    expect("endpoint reply", lambda: w_endpoint.Workload._check((req, body)),
           lambda: w_endpoint.Workload._check((req, bad)))


def table_check() -> None:
    import pyarrow as pa
    t = gen.lineitem_table(5, 2000)
    ctx = gen.table_context()
    want = oracle.table_wide(t, ctx)

    def as_program(table, net_delta=0.0):
        # the program returns zones as a list column, rows in any order
        zones = pa.array([z.split("|") if z else []
                          for z in table["zones"].to_pylist()],
                         pa.list_(pa.string()))
        net = table["net"].to_numpy().copy()
        net[10] += net_delta
        out = table.set_column(table.column_names.index("zones"), "zones",
                               zones)
        out = out.set_column(out.column_names.index("net"), "net",
                             pa.array(net))
        return out.take(pa.array(np.arange(out.num_rows)[::-1]))

    expect("table multiset", lambda: oracle.table_difference(
        want, as_program(want)), lambda: oracle.table_difference(
        want, as_program(want, net_delta=0.01)))


def corpus_checks() -> None:
    docs = gen.corpus_documents(9, 200)
    queries = gen.bm25_queries(9, docs)
    vecs = gen.embeddings(9, w_corpus.N_TOPK_QUERIES + 200)

    scores = w_corpus.bm25_scores(docs, queries)
    bm25 = []
    for q, s in scores.items():
        for d in np.argsort(-s, kind="stable")[:w_corpus.BM25_K]:
            if s[d] > 0:
                bm25.append({"query_id": q, "doc_id": int(d),
                             "score": float(s[d])})
    bm25_bad = copy.deepcopy(bm25)
    bm25_bad[0]["score"] *= 1.001
    expect("corpus bm25", lambda: w_corpus.check_bm25(bm25, docs, queries),
           lambda: w_corpus.check_bm25(bm25_bad, docs, queries))

    v = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    topk = []
    for q in range(w_corpus.N_TOPK_QUERIES):
        cos = v @ v[q]
        cos[q] = -np.inf
        for n in np.argsort(-cos, kind="stable")[:w_corpus.TOPK]:
            topk.append({"query_id": q, "neighbor": int(n),
                         "cosine": round(float(cos[n]), 6)})
    topk_bad = copy.deepcopy(topk)
    topk_bad[0]["neighbor"] = int(np.argsort(v @ v[0])[0])
    expect("corpus topk", lambda: w_corpus.check_topk(topk, vecs),
           lambda: w_corpus.check_topk(topk_bad, vecs))

    thr = 1.0 - w_corpus.SEMDEDUP_EPS
    kept: list[int] = []
    verdicts = []
    for i in range(len(vecs)):
        keep = not kept or (v[kept] @ v[i]).max() < thr
        kept += [i] if keep else []
        verdicts.append({"vec_id": i, "cell": 0, "keep": keep})
    bad = copy.deepcopy(verdicts)
    flip = next(r for r in bad if not r["keep"])
    flip["keep"] = True
    expect("corpus semdedup", lambda: w_corpus.check_semdedup(verdicts, vecs),
           lambda: w_corpus.check_semdedup(bad, vecs))

    rows_in = [{"doc_id": d, "text": t} for d, t in docs]
    lowest: dict = {}
    for r in rows_in:
        lowest.setdefault(w_corpus.fingerprint(r["text"]), r["doc_id"])
    rows_out = [{"doc_id": d} for d in lowest.values()]
    dup = next(r["doc_id"] for r in rows_in
               if r["doc_id"] not in lowest.values())
    expect("corpus dedup_exact",
           lambda: w_corpus.check_dedup_exact(rows_in, rows_out),
           lambda: w_corpus.check_dedup_exact(rows_in,
                                              rows_out + [{"doc_id": dup}]))

    text = dict(docs)
    want = w_corpus.cut_shared_spans({d: text[d] for d in lowest.values()})
    cut = [{"doc_id": d, "text": t} for d, t in want.items()]
    uncut = copy.deepcopy(cut)
    # a document that carries the shared sentence, given back uncut
    i = next(i for i, r in enumerate(cut)
             if gen.BOILERPLATE in text[r["doc_id"]])
    uncut[i]["text"] = " ".join(text[cut[i]["doc_id"]].split())
    expect("corpus remove_dup_spans", lambda: w_corpus.check_spans(cut, docs),
           lambda: w_corpus.check_spans(uncut, docs))

    chunks = [{"chunk_text": "clean words here.", "n_tokens": 3}]
    expect("corpus pii/chunk", lambda: w_corpus.check_chunks(chunks),
           lambda: w_corpus.check_chunks(
               [{"chunk_text": "mail user7@example.com now.",
                 "n_tokens": 4}]))


def main() -> int:
    doc_checks()
    endpoint_check()
    table_check()
    corpus_checks()
    failed = [n for n, ok in RESULTS if not ok]
    print(f"{len(RESULTS) - len(failed)}/{len(RESULTS)} checks behave")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
