"""Seeded input generators for the benchmark.

Everything here is a pure function of a seed: the same seed writes
byte-identical files.  Two families:

- sales batches in the 14-column ingest contract (FIXTURES.md §1), as
  CSV with a header and as NDJSON with escaped-slash dates and raw
  float64 doubles, plus the seeded invalid-file mutations the pipeline
  must quarantine;
- a small TPC-H-like star schema (parquet) for the read-only query lanes.

uuids come from a seeded bijection of a running index onto the 9-digit
range, so every batch draws fresh keys (CSV and NDJSON twins never share
one) and an update is a draw from the indices already committed.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = [
    "uuid", "Country", "ItemType", "SalesChannel", "OrderPriority",
    "OrderDate", "Region", "ShipDate", "UnitsSold", "UnitPrice",
    "UnitCost", "TotalRevenue", "TotalCost", "TotalProfit",
]
COUNTRIES = [
    "Brazil", "Canada", "Germany", "India", "Japan",
    "Kenya", "Mexico", "Norway", "Qatar", "Thailand",
]
ITEM_TYPES = [
    "Beverages", "Cereal", "Clothes", "Cosmetics", "Electronics",
    "Fruits", "Meat", "Office Supplies", "Snacks", "Vegetables",
]
CHANNELS = ["Online", "Offline"]
PRIORITIES = ["C", "H", "L", "M"]
REGIONS = [
    "Asia", "Australia and Oceania", "Central America and the Caribbean",
    "Europe", "Middle East and North Africa", "North America",
    "Sub-Saharan Africa",
]
#: Seeded invalid-file mutations, each breaking one validation rule.
MUTATIONS = ("dup_uuid", "bad_date", "non_numeric", "missing_column")
#: The mutations the engine quarantines today.  ``read_sales`` applies
#: the explicit ingest schema, which turns a non-numeric value or a
#: missing column into NULLs that pass validation, so those two kinds
#: are committed instead (pinned by tests/test_smoke.py) and stay out of
#: the timed stream.
STREAM_MUTATIONS = ("dup_uuid", "bad_date")

_UUID_BASE = 100_000_000
_UUID_SPAN = 900_000_000
_DAY0 = datetime.date(2014, 1, 4)
_ORDER_DAYS = (datetime.date(2016, 12, 31) - _DAY0).days + 1
_EPOCH_OFFSET = (_DAY0 - datetime.date(1970, 1, 1)).days


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """An independent stream per (seed, purpose, index), so one file's
    content never depends on how many rows another file drew."""
    return np.random.default_rng([seed, *stream])


class UuidSpace:
    """Seeded bijection index -> distinct 9-digit uuid."""

    def __init__(self, seed: int):
        rng = _rng(seed, 0)
        # a multiplier coprime to 900M = 2^8 * 3^2 * 5^8 makes
        # i -> (a*i + b) mod span a permutation of the range
        while True:
            a = int(rng.integers(1, _UUID_SPAN))
            if a % 2 and a % 3 and a % 5:
                break
        self.a = a
        self.b = int(rng.integers(0, _UUID_SPAN))

    def __call__(self, idx: np.ndarray) -> np.ndarray:
        idx = np.asarray(idx, dtype=np.int64)
        if len(idx) and idx.max() >= 10**9:  # a * idx must fit in int64
            raise ValueError("uuid index out of range")
        return _UUID_BASE + (idx * self.a + self.b) % _UUID_SPAN


def sales_rows(rng: np.random.Generator, uuids: np.ndarray) -> dict:
    """Column arrays for ``len(uuids)`` rows in the FIXTURES.md §1
    domains.  Dates are day offsets from 1970-01-01; the totals keep the
    invariants revenue = units * price, cost = units * unit cost,
    profit = revenue - cost as raw float64 products."""
    n = len(uuids)
    order = _EPOCH_OFFSET + rng.integers(0, _ORDER_DAYS, n)
    units = rng.integers(102, 9994, n)
    price = rng.integers(543, 49971, n) / 100.0
    cost = np.maximum(np.round(price * rng.uniform(0.55, 0.95, n), 2), 0.01)
    revenue = units * price
    total_cost = units * cost
    return {
        "uuid": np.asarray(uuids, dtype=np.int64),
        "Country": rng.integers(0, len(COUNTRIES), n),
        "ItemType": rng.integers(0, len(ITEM_TYPES), n),
        "SalesChannel": rng.integers(0, len(CHANNELS), n),
        "OrderPriority": rng.integers(0, len(PRIORITIES), n),
        "OrderDate": order,
        "Region": rng.integers(0, len(REGIONS), n),
        "ShipDate": order + rng.integers(0, 61, n),
        "UnitsSold": units,
        "UnitPrice": price,
        "UnitCost": cost,
        "TotalRevenue": revenue,
        "TotalCost": total_cost,
        "TotalProfit": revenue - total_cost,
    }


_DOMAINS = {
    "Country": COUNTRIES, "ItemType": ITEM_TYPES,
    "SalesChannel": CHANNELS, "OrderPriority": PRIORITIES,
    "Region": REGIONS,
}


def _mdy(days: np.ndarray, sep: str) -> list[str]:
    table = {}
    out = []
    for d in days.tolist():
        s = table.get(d)
        if s is None:
            dt = datetime.date(1970, 1, 1) + datetime.timedelta(days=d)
            s = table[d] = f"{dt.month:02d}{sep}{dt.day:02d}{sep}{dt.year}"
        out.append(s)
    return out


def _text_columns(rows: dict, json: bool) -> dict[str, list[str]]:
    """Every column as a list of its serialized field strings."""
    out = {}
    for c in COLUMNS:
        v = rows[c]
        if c in _DOMAINS:
            dom = [f'"{s}"' for s in _DOMAINS[c]] if json else _DOMAINS[c]
            out[c] = [dom[i] for i in v.tolist()]
        elif c in ("OrderDate", "ShipDate"):
            out[c] = [
                f'"{s}"' for s in _mdy(v, "\\/")
            ] if json else _mdy(v, "/")
        elif v.dtype.kind == "f":
            out[c] = list(map(repr, v.tolist()))
        else:
            out[c] = list(map(str, v.tolist()))
    return out


def apply_mutation(text: dict[str, list[str]], kind: str, json: bool,
                   rng: np.random.Generator) -> list[str]:
    """Break one batch the way ``kind`` says; returns its column list."""
    n = len(text["uuid"])
    i, j = (int(x) for x in rng.choice(n, 2, replace=False))
    cols = list(COLUMNS)
    if kind == "dup_uuid":
        text["uuid"][j] = text["uuid"][i]
    elif kind == "bad_date":
        # ISO instead of M/d/yyyy (FIXTURES.md "bad_date")
        text["OrderDate"][i] = '"2016-03-24"' if json else "2016-03-24"
    elif kind == "non_numeric":
        text["UnitsSold"][i] = '"abc"' if json else "abc"
    elif kind == "missing_column":
        cols.remove("TotalProfit")
    else:
        raise ValueError(f"unknown mutation {kind!r}")
    return cols


def write_sales(path: str, rows: dict, fmt: str,
                mutation: str | None = None,
                rng: np.random.Generator | None = None) -> None:
    """Serialize ``rows`` to ``path`` as ``csv`` or ``json`` (NDJSON)."""
    json = fmt == "json"
    text = _text_columns(rows, json)
    cols = list(COLUMNS)
    if mutation is not None:
        cols = apply_mutation(text, mutation, json, rng)
    fields = [text[c] for c in cols]
    if json:
        tmpl = "{" + ",".join(f'"{c}":%s' for c in cols) + "}"
        body = "\n".join(tmpl % t for t in zip(*fields)) + "\n"
    else:
        body = ",".join(cols) + "\n" + "\n".join(
            ",".join(t) for t in zip(*fields)
        ) + "\n"
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(body)


def serving_table(rows: dict) -> pa.Table:
    """``rows`` in the ``sales_tgt`` serving layout: dates as ISO
    strings, categoricals decoded."""
    arrays = {}
    for c in COLUMNS:
        v = rows[c]
        if c in _DOMAINS:
            arrays[c] = pa.array(np.asarray(_DOMAINS[c], dtype=object)[v])
        elif c in ("OrderDate", "ShipDate"):
            arrays[c] = pa.array(v.astype(np.int32), pa.date32()).cast(pa.string())
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


class SalesStream:
    """The ``ingest_steady`` input: a pre-seed target of
    ``preseed_rows`` and a stream of small files alternating CSV and
    NDJSON.  A fifth of each file's keys re-use pre-seed keys.  One file
    in ten carries a seeded mutation; the first such file index is drawn
    from ``invalid_phases`` (a half-open range within 0..10)."""

    def __init__(self, seed: int, preseed_rows: int, file_rows: int,
                 invalid_phases: tuple[int, int] = (0, 10)):
        self.seed = seed
        self.uuids = UuidSpace(seed)
        self.preseed_rows = preseed_rows
        self.file_rows = file_rows
        self.n_update = file_rows // 5
        rng = _rng(seed, 1)
        self.invalid_phase = int(rng.integers(*invalid_phases))
        self.mutation_phase = int(rng.integers(0, len(STREAM_MUTATIONS)))

    def preseed(self) -> pa.Table:
        rng = _rng(self.seed, 2)
        idx = np.arange(self.preseed_rows, dtype=np.int64)
        return serving_table(sales_rows(rng, self.uuids(idx)))

    def mutation(self, i: int) -> str | None:
        if i % 10 != self.invalid_phase:
            return None
        k = i // 10 + self.mutation_phase
        return STREAM_MUTATIONS[k % len(STREAM_MUTATIONS)]

    def write_file(self, i: int, out_dir: str) -> tuple[str, str | None]:
        """Write file ``i``; returns (path, mutation or None)."""
        rng = _rng(self.seed, 3, i)
        n_new = self.file_rows - self.n_update
        start = self.preseed_rows + i * n_new
        new_idx = np.arange(start, start + n_new, dtype=np.int64)
        # distinct pre-seed indices, in draw order
        draw = rng.integers(0, self.preseed_rows, 2 * self.n_update + 16)
        upd_idx = np.fromiter(dict.fromkeys(draw.tolist()), np.int64)
        upd_idx = upd_idx[: self.n_update]
        idx = np.concatenate([new_idx, upd_idx])
        idx = idx[rng.permutation(len(idx))]
        rows = sales_rows(rng, self.uuids(idx))
        fmt = "csv" if i % 2 == 0 else "json"
        mutation = self.mutation(i)
        path = os.path.join(out_dir, f"sales_{i:05d}.{fmt}")
        write_sales(path, rows, fmt, mutation, rng)
        return path, mutation


# ---------------------------------------------------------------------------
# star schema for the query lanes
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data spark table column row key value query scan filter join "
    "group agg sort hash merge order line part customer stream batch "
    "window vector fast slow big small"
).split()


def _ts(rng, n, start: str, days: int) -> pa.Array:
    """``n`` midnight timestamps within ``days`` of ``start``."""
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * 86_400_000_000,
                    pa.timestamp("us"))


def _documents(rng, n_docs: int) -> pa.Table:
    """Word-salad documents with seeded near-duplicate clusters: every
    twentieth document copies an earlier long one with one word swapped."""
    texts = []
    for i in range(n_docs):
        if i % 20 == 19:
            base = texts[int(rng.integers(0, i))].split()
            if len(base) >= 40:
                base[int(rng.integers(0, len(base)))] = _WORDS[
                    int(rng.integers(0, len(_WORDS)))
                ]
                texts.append(" ".join(base))
                continue
        k = int(rng.integers(8, 100))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = np.asarray(["en", "es", "fr", "de", "zh"], dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.asarray([len(t) for t in texts], np.int64)),
    })


def write_star_schema(seed: int, out_dir: str, orders: int = 15_000,
                      docs: int = 500) -> str:
    """A TPC-H-like star schema sized by ``orders`` (~4 lineitems each),
    in the layout ``sources.readers.read_table`` expects
    (``<dir>/<table>.parquet``)."""
    rng = _rng(seed, 5)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = orders // 10, max(orders // 150, 10), orders // 8
    lines = rng.integers(1, 8, orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(orders, dtype=np.int64), lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = rng.integers(90_000, 210_000, n_li) / 100.0
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_cust) / 100.0),
            "c_mktsegment": pa.array(np.asarray(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                dtype=object)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(rng.integers(-99_999, 1_000_000, n_supp) / 100.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders)),
            "o_orderstatus": pa.array(np.asarray(["F", "O", "P"], dtype=object)[
                rng.integers(0, 3, orders)]),
            "o_totalprice": pa.array(rng.integers(100_191, 50_000_000, orders) / 100.0),
            "o_orderdate": _ts(rng, orders, "1995-01-01", 2404),
            "o_orderpriority": pa.array(np.asarray(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                dtype=object)[rng.integers(0, 5, orders)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(
                (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
                 ).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * unit, 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.asarray(["A", "N", "R"], dtype=object)[
                rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.asarray(["F", "O"], dtype=object)[
                rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(rng, n_li, "1995-01-02", 2499),
        }),
        "events": _events(rng, orders * 2 // 3, n_users=orders // 100),
        "documents": _documents(rng, docs),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def _events(rng, n: int, n_users: int) -> pa.Table:
    types = np.asarray(["signup", "click", "error", "view", "purchase"], dtype=object)
    ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * 86_400_000_000, n)
    )
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n)),
        "event_type": pa.array(types[rng.integers(0, 5, n)]),
        "value": pa.array(rng.integers(100, 20_000, n) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
