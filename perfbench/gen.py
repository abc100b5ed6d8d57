"""Seeded input generators.  The same seed always gives the same inputs;
nothing generated is committed, every run writes its inputs anew under
its own work directory.
"""

from __future__ import annotations

import bisect
import functools
import itertools
import json
import random

import numpy as np

FIRST = ["ada", "Bo", "carl", "Dee", "eve", "Finn", "gus", "Hal", "ivy",
         "Jo", "kai", "Lu", "mo", "Ned", "oz", "Pia"]
LAST = ["smith", "Ng", "oduya", "Park", "ruiz", "Sato", "tran", "Vega"]
CITIES = ["Paris", "Lyon", "Oslo", "Kyoto", "Lima", "Quito", "Accra",
          "Perth"]
N_USERS = 100
N_TAGS = 100


@functools.lru_cache(maxsize=None)
def _zipf_cdf(n: int, s: float) -> tuple[float, ...]:
    w = [1.0 / (i + 1) ** s for i in range(n)]
    total = sum(w)
    return tuple(itertools.accumulate(x / total for x in w))


def zipf_index(rng: random.Random, n: int, s: float = 1.1) -> int:
    """Index in [0, n) with a Zipf-like skew (index 0 most frequent)."""
    return min(bisect.bisect_left(_zipf_cdf(n, s), rng.random()), n - 1)


# --- documents ------------------------------------------------------------


def doc_context() -> dict:
    """100-row lookup contexts (the reference's performance-test shape),
    with every tenth tag id repeated so ``lookup`` returns several
    values for some keys."""
    users = [{"id": i, "name": f"user{i}", "role": "member"}
             for i in range(N_USERS)]
    tags = []
    for i in range(N_TAGS):
        tags.append({"id": f"t{i}", "value": f"tag-{i}"})
        if i % 10 == 0:
            tags.append({"id": f"t{i}", "value": f"tag-{i}-alt"})
    regions = [{"code": f"R{i:02d}", "name": f"region {i}"}
               for i in range(N_USERS)]
    return {"users": users, "tags": tags, "regions": regions}


def lookup_records(rng: random.Random, n: int) -> list[dict]:
    """Records for the lookup rule.  Lookup keys are Zipf-skewed over
    110 ids, so about 5% miss the 100-row contexts; ``address`` is
    missing on 1 record in 7 and its ``city`` null on 1 in 11, so
    missing and null outputs both occur."""
    out = []
    for i in range(n):
        r = {"id": i,
             "user_id": zipf_index(rng, N_USERS + 10),
             "tag_id": f"t{zipf_index(rng, N_TAGS + 10)}",
             "first": rng.choice(FIRST), "last": rng.choice(LAST),
             "score": round(rng.uniform(0, 100), 2)}
        k = rng.randrange(77)
        if k % 7 != 0:
            r["address"] = {"city": None if k % 11 == 0
                            else rng.choice(CITIES)}
        out.append(r)
    return out


def extended_records(rng: random.Random, n: int) -> list[dict]:
    out = []
    for i in range(n):
        code = (f"{rng.choice('abcdefgh')}{rng.randrange(100)}-"
                f"{rng.choice('xyz')}{rng.randrange(1000)}")
        out.append({
            "id": i,
            "first": rng.choice(FIRST), "last": rng.choice(LAST),
            "code": code,
            "price": round(rng.uniform(0.5, 99.5), 3),
            "qty": rng.randrange(10),
            "discount": round(rng.uniform(0, 5), 2),
            "n": rng.randrange(-50, 1 << 20),
            "ts": (f"20{rng.randrange(10, 30)}-{rng.randrange(1, 13):02d}-"
                   f"{rng.randrange(1, 29):02d} {rng.randrange(24):02d}:"
                   f"{rng.randrange(60):02d}:{rng.randrange(60):02d}"),
        })
    return out


def csv_rows(rng: random.Random, n: int) -> list[dict]:
    out = []
    for _ in range(n):
        out.append({
            "sku": f"{rng.choice('ABCDEFGHJKLMNPQRSTUVWXYZ')}"
                   f"{rng.randrange(10000):04d}",
            "qty": str(rng.randrange(-5, 500)),
            "price": f"{rng.uniform(0, 500):.2f}",
            "city": f"{' ' * rng.randrange(3)}{rng.choice(CITIES)}"
                    f"{' ' * rng.randrange(3)}",
            "region": f"R{zipf_index(rng, N_USERS + 10):02d}",
        })
    return out


def csv_text(rows: list[dict]) -> str:
    cols = ["sku", "qty", "price", "city", "region"]
    return "\n".join([",".join(cols)] +
                     [",".join(r[c] for c in cols) for r in rows]) + "\n"


# --- endpoint requests ------------------------------------------------------


def order_requests(rng: random.Random, n: int) -> list[dict]:
    """Order bodies.  Every order is ``express``, so every request takes
    both rule steps and request latency has one mode, not two that a
    seed's mix would weight differently."""
    out = []
    for _ in range(n):
        out.append({
            "id": rng.randrange(1, 10 ** 6),
            "body": {"customer": rng.choice(FIRST),
                     "sku": f"{rng.choice('ABCDEFGH')}{rng.randrange(1000)}",
                     "qty": rng.randrange(1, 20),
                     "price": round(rng.uniform(1, 200), 2),
                     "express": True},
        })
    return out


def dumps(value) -> str:
    return json.dumps(value, separators=(",", ":"))


def np_rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed & 0xFFFFFFFF, stream])


# --- lineitem-shaped table --------------------------------------------------

SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
WORDS = ["quick", "final", "deposits", "sleep", "carefully", "ironic",
         "pending", "accounts", "blithely", "regular", "furiously", "bold",
         "packages", "haggle", "express", "requests"]


def lineitem_table(seed: int, n: int):
    """A TPC-H ``lineitem``-shaped pyarrow table of ``n`` rows."""
    import pyarrow as pa

    rng = np_rng(seed, 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    words = np.array(WORDS)
    comment = [" ".join(w) for w in
               words[rng.integers(0, len(WORDS), (n, 4))].tolist()]
    pad = rng.integers(0, 3, n)
    comment = [" " * p + c for p, c in zip(pad.tolist(), comment)]
    ship = np.datetime64("1992-01-01") + rng.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, 6_000_000, n)),
        "l_partkey": pa.array(rng.integers(1, 200_000, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship.astype("datetime64[D]")),
        "l_shipmode": pa.array(np.array(SHIPMODES)[
            rng.integers(0, len(SHIPMODES), n)]),
        "l_comment": pa.array(comment),
    })


def table_context() -> dict:
    """Lookup tables for the lineitem rule: one ship mode has no
    carrier and one return flag no zone, so both lookups miss."""
    return {
        "carriers": [{"mode": m, "carrier": f"c-{m.lower()}"}
                     for m in SHIPMODES if m != "FOB"],
        "zones": [{"flag": "A", "zone": "z1"}, {"flag": "A", "zone": "z2"},
                  {"flag": "N", "zone": "z3"}],
    }


# --- corpus -------------------------------------------------------------------

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
BOILERPLATE = ("please read the terms of service and the privacy policy "
               "before you continue.")


def _vocab(rng) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(letters[rng.integers(0, 26, rng.integers(3, 9))])
            for _ in range(400)]


def corpus_documents(seed: int, n: int) -> list[tuple[int, str]]:
    """``n`` web-page-like documents of 6-14 lines.  About 1 page in 10
    is an exact copy of an earlier one, 1 in 4 carries a shared
    boilerplate sentence (a duplicated span), 1 in 6 an e-mail address
    or phone number, and 1 in 12 is too short for the Gopher rules;
    lines under three words or without end punctuation are C4 noise."""
    rng = np_rng(seed, 2)
    vocab = _vocab(rng) + STOPWORDS * 6
    docs: list[tuple[int, str]] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            docs.append((i, docs[int(rng.integers(0, len(docs)))][1]))
            continue
        lines = []
        for _ in range(int(rng.integers(2, 4) if rng.random() < 1 / 12
                           else rng.integers(6, 15))):
            words = [vocab[j] for j in
                     rng.integers(0, len(vocab), rng.integers(5, 14))]
            lines.append(" ".join(words) + rng.choice([".", ".", "!", "?"]))
            if rng.random() < 0.15:
                lines.append(" ".join(words[:2]))      # no end punctuation
        if rng.random() < 0.25:
            lines.insert(int(rng.integers(0, len(lines))), BOILERPLATE)
        if rng.random() < 1 / 6:
            k = int(rng.integers(0, len(lines)))
            contact = (f"mail user{i}@example.com today." if i % 2 else
                       f"call +1-555-{i % 9000000 + 1000000} now.")
            lines[k] = lines[k] + " " + contact
        docs.append((i, "\n".join(lines)))
    return docs


def bm25_queries(seed: int, docs, n: int = 8) -> list[tuple[int, str]]:
    """Queries of 2-4 terms drawn from the corpus."""
    rng = np_rng(seed, 3)
    out = []
    for q in range(n):
        words = docs[int(rng.integers(0, len(docs)))][1].split()
        picks = rng.choice(len(words), min(len(words), int(
            rng.integers(2, 5))), replace=False)
        out.append((q, " ".join(words[j].strip(".!?") for j in picks)))
    return out


def embeddings(seed: int, n: int, dim: int = 32) -> np.ndarray:
    """``n`` vectors around 24 centres; 1 in 8 is a near-copy (tiny
    noise) of an earlier vector, so semantic dedup has work to do."""
    rng = np_rng(seed, 4)
    centres = rng.normal(size=(24, dim))
    vecs = centres[rng.integers(0, 24, n)] + rng.normal(scale=0.6,
                                                        size=(n, dim))
    for i in range(1, n):
        if rng.random() < 0.125:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(
                scale=0.01, size=dim)
    return vecs
