"""Plain-Python expected outputs for the benchmark's rules, written from
the rule specification (``rulemorph_spark/docs/rules_spec_en.md``).
Nothing here imports the program: a check that used the program's own
interpreter would agree with it by construction.

Conventions taken from the specification and the reference engine:

- ``round`` multiplies in f64, rounds half away from zero, divides;
- an arithmetic result that is integral is emitted as an integer
  (the reference's ``json_number_from_f64``);
- equality is kind-aware: an integer never equals a float, a bool is
  not a number;
- a missing value omits its target, an explicit null writes null;
- object keys are compared without regard to order.
"""

from __future__ import annotations

import math
import re
from datetime import datetime

MISSING = object()


def spec_round(x: float, scale: int = 0) -> float:
    """``round``: f64 multiply, half away from zero, divide."""
    y = x * (10.0 ** scale) if scale else x
    r = math.trunc(y)
    if abs(y - r) >= 0.5:
        r += 1 if y > 0 else -1
    r = float(r)
    return r / (10.0 ** scale) if scale else r


def json_num(f: float):
    """Integral f64 results are emitted as integers."""
    if math.isfinite(f) and f == math.trunc(f) and abs(f) < 2 ** 63:
        return int(f)
    return f


def to_base(n: int, base: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    if n == 0:
        return "0"
    neg, n, out = n < 0, abs(n), []
    while n:
        out.append(digits[n % base])
        n //= base
    return ("-" if neg else "") + "".join(reversed(out))


def kind_equal(a, b) -> bool:
    """Kind-aware deep equality with order-free object keys."""
    if isinstance(a, bool) or isinstance(b, bool):
        return type(a) is type(b) and a == b
    if isinstance(a, (int, float)) or isinstance(b, (int, float)):
        return type(a) is type(b) and a == b
    if isinstance(a, dict):
        return (isinstance(b, dict) and a.keys() == b.keys()
                and all(kind_equal(a[k], b[k]) for k in a))
    if isinstance(a, list):
        return (isinstance(b, list) and len(a) == len(b)
                and all(kind_equal(x, y) for x, y in zip(a, b)))
    return type(a) is type(b) and a == b


def first_difference(expected: list, actual: list) -> str | None:
    """None when both record lists are kind-equal, else a description of
    the first difference."""
    if not isinstance(actual, list):
        return f"expected a list, got {type(actual).__name__}"
    if len(expected) != len(actual):
        return f"{len(actual)} records, expected {len(expected)}"
    for i, (e, a) in enumerate(zip(expected, actual)):
        if not kind_equal(e, a):
            return f"record {i}: got {a!r}, expected {e!r}"
    return None


def _put(obj: dict, path: str, value) -> None:
    if value is MISSING:
        return
    *parents, leaf = path.split(".")
    for p in parents:
        obj = obj.setdefault(p, {})
    obj[leaf] = value


def _lookup(table: list[dict], key: str, value, field: str, first: bool):
    hits = [row[field] for row in table
            if key in row and kind_equal(row[key], value) and field in row]
    if not hits:
        return MISSING
    return hits[0] if first else hits


# --- document rules (rules/doc_*.yaml) -------------------------------------


def doc_lookup(records: list[dict], ctx: dict) -> list[dict]:
    out = []
    for r in records:
        o: dict = {}
        _put(o, "id", r["id"])
        _put(o, "user_name",
             _lookup(ctx["users"], "id", r["user_id"], "name", True))
        _put(o, "tags", _lookup(ctx["tags"], "id", r["tag_id"], "value",
                                False))
        _put(o, "full_name", f"{r['first']} {r['last']}")
        _put(o, "profile.city",
             r["address"]["city"] if "address" in r else MISSING)
        _put(o, "profile.score", float(r["score"]))
        out.append(o)
    return out


def doc_extended(records: list[dict]) -> list[dict]:
    kept = []
    for r in records:
        if not r["qty"] >= 2:
            continue
        o: dict = {
            "id": r["id"],
            "label": f"{r['first']} {r['last']} ".strip().upper(),
            "code": re.sub("[0-9]+", "#", r["code"]),
            "code_head": r["code"].split("-")[0],
            "net": json_num(spec_round(r["price"] * r["qty"], 2)),
            "discounted": json_num(spec_round(r["price"] - r["discount"], 1)),
            "hex": to_base(r["n"], 16),
            "bin": to_base(r["n"], 2),
            "day": datetime.strptime(r["ts"], "%Y-%m-%d %H:%M:%S")
            .strftime("%Y/%m/%d"),
        }
        if r["price"] > 50:
            o["tier"] = "premium"
        o["padded"] = r["first"].lower().rjust(10, "*")
        kept.append(o)
    # finalize: stable sort by net descending, then limit
    kept.sort(key=lambda o: -o["net"])
    return kept[:300]


def doc_csv(rows: list[dict], ctx: dict) -> list[dict]:
    out = []
    for r in rows:
        if not re.search("^[A-M]", r["sku"]):
            continue
        o: dict = {"sku": r["sku"], "qty": int(r["qty"]),
                   "price": float(r["price"]),
                   "city": r["city"].strip().lower()}
        _put(o, "region", _lookup(ctx["regions"], "code", r["region"],
                                  "name", True))
        o["label"] = f"{r['sku']}/{r['region']}".ljust(12, ".")
        out.append(o)
    return out


# --- endpoint (rules/endpoint.yaml) -----------------------------------------


def endpoint_reply(order_id: int, body: dict) -> dict:
    out = {"order_id": order_id,
           "customer": body["customer"].strip().upper(),
           "subtotal": json_num(spec_round(body["price"] * body["qty"], 2))}
    if body["express"] is True:
        out["shipping"] = 9.5
        out["total"] = json_num(spec_round(out["subtotal"] + 9.5, 2))
    return out


# --- table rule (rules/table_wide.yaml), columnar ----------------------------


def spec_round_np(x, scale: int):
    import numpy as np
    y = x * (10.0 ** scale)
    r = np.trunc(y)
    r = r + np.where(np.abs(y - r) >= 0.5, np.sign(y), 0.0)
    return r / (10.0 ** scale)


def table_wide(t, ctx: dict):
    """Expected output of ``table_wide.yaml`` over the pyarrow table
    ``t``, as a pyarrow table (``zones`` joined with ``|``)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    t = t.filter(pc.greater_equal(t["l_quantity"], 10.0))
    price = t["l_extendedprice"].to_numpy()
    disc = t["l_discount"].to_numpy()
    tax = t["l_tax"].to_numpy()
    carriers = {}
    for row in ctx["carriers"]:
        carriers.setdefault(row["mode"], row["carrier"])
    zones: dict = {}
    for row in ctx["zones"]:
        zones.setdefault(row["flag"], []).append(row["zone"])
    modes = t["l_shipmode"].to_pylist()
    flags = t["l_returnflag"].to_pylist()
    return pa.table({
        "okey": t["l_orderkey"],
        "net": spec_round_np(disc * price, 2),
        "disc_price": spec_round_np((1.0 - disc) * price, 2),
        "charge": spec_round_np(price * tax + price, 2),
        "qty_int": pa.array(np.trunc(t["l_quantity"].to_numpy())
                            .astype(np.int64)),
        "flag_status": pc.binary_join_element_wise(
            t["l_returnflag"], t["l_linestatus"], "-"),
        "mode": pa.array([m.lower().replace(" ", "_") for m in modes]),
        "note": pa.array([c.strip().upper()
                          for c in t["l_comment"].to_pylist()]),
        "line": pa.array([str(v).rjust(3, "0")
                          for v in t["l_linenumber"].to_pylist()]),
        "carrier": pa.array([carriers.get(m) for m in modes], pa.string()),
        "zones": pa.array(["|".join(zones.get(f, []))
                           for f in flags], pa.string()),
    })


def table_difference(expected, actual) -> str | None:
    """Compare two tables as multisets of rows (``actual.zones`` is a
    list column; it is joined like the expected one)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if actual.column_names != expected.column_names:
        return f"columns {actual.column_names}, expected " \
               f"{expected.column_names}"
    if actual.num_rows != expected.num_rows:
        return f"{actual.num_rows} rows, expected {expected.num_rows}"
    zones = pa.array(["|".join(z) if z is not None else None
                      for z in actual["zones"].to_pylist()], pa.string())
    actual = actual.set_column(actual.column_names.index("zones"), "zones",
                               zones)
    keys = [(c, "ascending") for c in expected.column_names]
    exp = expected.sort_by(keys)
    act = actual.cast(expected.schema).sort_by(keys)
    for name in expected.column_names:
        a, e = act[name].combine_chunks(), exp[name].combine_chunks()
        if not a.equals(e):
            bad = pc.index(pc.equal(a, e), False).as_py()
            return f"column {name} differs, e.g. {a[bad]} vs {e[bad]}"
    return None
