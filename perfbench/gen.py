"""Seeded input generators for the benchmark.

Every generator draws from ``numpy.random.default_rng(seed)`` and writes
only under the directory it is given, so the same seed gives the same
bytes and nothing outside the benchmark's work directory is touched.

- ``write_star_schema``: the ten tables of the engine's star schema
  (``tables.TABLE_NAMES``) with the column types and value domains of the
  star-schema test data (TESTDATA.md), at a chosen row count per table.
- ``hicp_cube``: ``prc_hicp_midx``-shaped JSON-stat series, one payload per
  (geo, coicop), mixing dense-list and sparse-dict value encodings with a
  seeded share of missing cells, plus the facts the output check needs.
- ``write_corpus``: a documents table in which a seeded share of documents
  has a near-copy (last word replaced), so the near-duplicate share is set
  on purpose.
- ``write_lakehouse``: an orders table plus, per commit cycle, the append,
  update and delete batches that cycle applies to it.
"""

from __future__ import annotations

import json
import os
import urllib.parse
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The test data's 31-word document vocabulary (uniform word draws).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
P_ADJ = ("small", "red", "blue", "green", "large", "steel", "brass", "shiny")
P_NOUN = ("ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "spring")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
_EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01


@dataclass(frozen=True)
class StarSize:
    """Row counts of the star schema; ``lineitem`` averages 4 per order."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    events: int
    users: int
    documents: int
    embeddings: int
    emb_dim: int = 64


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, no pandas metadata: the bytes depend only on
    # the data.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _choice(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY, pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos : pos + ln]))
        pos += ln
    return out


def orders_table(rng: np.random.Generator, n: int, customers: int, key_base: int = 0) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key_base, key_base + n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, n, dtype=np.int64)),
            "o_orderstatus": _choice(rng, ("O", "F", "P"), n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n)),
            "o_orderdate": _days_ts(_EPOCH_1995 + rng.integers(0, _ORDER_DAYS, n)),
            "o_orderpriority": _choice(rng, PRIORITIES, n),
        }
    )


def documents_table(doc_ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids.astype(np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, LANGS, n),
            "source": _choice(rng, tuple(f"src{i}" for i in range(20)), n),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_star_schema(out_dir: str, seed: int, size: StarSize) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for all ten tables; returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = size
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(s.customers, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(s.customers)]),
                "c_nationkey": pa.array(rng.integers(0, 25, s.customers, dtype=np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customers)),
                "c_mktsegment": _choice(rng, SEGMENTS, s.customers),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(s.suppliers, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s.suppliers)]),
                "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers, dtype=np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.suppliers)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(s.parts, dtype=np.int64)),
                "p_name": pa.array(
                    [
                        f"{P_ADJ[a]} {P_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (s.parts, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, s.parts)]),
                "p_type": _choice(rng, P_TYPES, s.parts),
                "p_size": pa.array(rng.integers(1, 51, s.parts, dtype=np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(s.parts) % 1000) * 0.1, 1)
                ),
            }
        ),
        "orders": orders_table(rng, s.orders, s.customers),
    }
    per_order = rng.integers(1, 8, s.orders)
    n_lines = int(per_order.sum())
    okey = np.repeat(np.arange(s.orders, dtype=np.int64), per_order)
    lineno = (np.arange(n_lines) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1)
    order_day = (
        tables["orders"]["o_orderdate"].cast(pa.int64()).to_numpy() // _US_PER_DAY
    )
    perm = rng.permutation(n_lines)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey[perm]),
            "l_partkey": pa.array(rng.integers(0, s.parts, n_lines, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, n_lines, dtype=np.int64)),
            "l_linenumber": pa.array(lineno[perm].astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_lines)),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
            "l_returnflag": _choice(rng, ("A", "N", "R"), n_lines),
            "l_linestatus": _choice(rng, ("F", "O"), n_lines),
            "l_shipdate": _days_ts(
                np.repeat(order_day, per_order)[perm] + rng.integers(1, 122, n_lines)
            ),
        }
    )
    span_us = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(0, span_us, s.events)) + _EPOCH_2024 * _US_PER_DAY
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(s.events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s.users, s.events, dtype=np.int64)),
            "event_type": _choice(rng, EVENT_TYPES, s.events),
            "value": pa.array(np.round(rng.exponential(50.0, s.events), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)]),
        }
    )
    tables["documents"] = documents_table(
        np.arange(s.documents), _texts(rng, s.documents), rng
    )
    emb = rng.standard_normal((s.embeddings, s.emb_dim)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(s.embeddings, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, s.embeddings, dtype=np.int32)),
        }
    )
    for name, tb in tables.items():
        _write(tb, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in tables.items()}


def write_corpus(out_dir: str, seed: int, n_docs: int, near_dup_frac: float) -> dict[str, int]:
    """``{out_dir}/documents.parquet`` of ``n_docs`` documents, of which
    ``round(n_docs * near_dup_frac)`` are near-copies of distinct seeded
    originals (same text with the last word replaced)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_copies = int(round(n_docs * near_dup_frac))
    n_orig = n_docs - n_copies
    texts = _texts(rng, n_orig)
    sources = rng.choice(n_orig, n_copies, replace=False)
    for i in sources:
        words = texts[i].split()
        words[-1] = VOCAB[(VOCAB.index(words[-1]) + 1) % len(VOCAB)]
        texts.append(" ".join(words))
    _write(documents_table(np.arange(n_docs), texts, rng), os.path.join(out_dir, "documents.parquet"))
    return {"documents": n_docs, "near_copies": n_copies}


@dataclass
class LakehouseInputs:
    """A base orders table and, per commit cycle ``i``, the batches that
    cycle applies (``write_cycle``). Appends carry fresh keys; the update
    batch sets the same contiguous key range to base price + (i + 1); the
    delete batch takes base keys outside that range that no earlier cycle
    deleted. So after cycle ``i`` the table holds
    ``rows + (i + 1) * (append_batches * append_rows - delete_rows)`` rows."""

    out_dir: str
    seed: int
    base: str
    rows: int
    append_batches: int
    append_rows: int
    customers: int
    updated: pa.Table  # the base rows of the updated key range
    update_range: tuple[int, int]
    delete_order: np.ndarray  # base keys outside the updated range, shuffled
    delete_rows: int
    where_range: tuple[int, int]  # a 5% key range for the pruned read

    def head_rows(self, i: int) -> int:
        return self.rows + (i + 1) * (self.append_batches * self.append_rows - self.delete_rows)

    def write_cycle(self, i: int) -> LakehouseCycleFiles:
        d = os.path.join(self.out_dir, f"cycle{i}")
        os.makedirs(d, exist_ok=True)
        appends = []
        for b in range(self.append_batches):
            rng = np.random.default_rng([self.seed, i, b])
            key_base = self.rows + (i * self.append_batches + b) * self.append_rows
            p = os.path.join(d, f"append{b}.parquet")
            _write(orders_table(rng, self.append_rows, self.customers, key_base), p)
            appends.append(p)
        u = self.updated
        col = u.schema.get_field_index("o_totalprice")
        price = np.round(u["o_totalprice"].to_numpy() + (i + 1), 2)
        updates = os.path.join(d, "updates.parquet")
        _write(u.set_column(col, "o_totalprice", pa.array(price)), updates)
        if (i + 1) * self.delete_rows > len(self.delete_order):
            raise ValueError(f"cycle {i}: no undeleted keys left")
        dk = np.sort(self.delete_order[i * self.delete_rows : (i + 1) * self.delete_rows])
        deletes = os.path.join(d, "deletes.parquet")
        _write(pa.table({"o_orderkey": dk}), deletes)
        return LakehouseCycleFiles(d, appends, updates, deletes)


@dataclass
class LakehouseCycleFiles:
    dir: str
    appends: list[str]
    updates: str  # whole rows, o_totalprice raised
    deletes: str  # o_orderkey

    @property
    def bytes(self) -> int:
        return tree_bytes(self.dir)


def write_lakehouse(
    out_dir: str,
    seed: int,
    rows: int,
    append_batches: int,
    append_rows: int,
    update_rows: int,
    delete_rows: int,
) -> LakehouseInputs:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    customers = max(1, rows // 10)
    base = orders_table(rng, rows, customers)
    path = os.path.join(out_dir, "base.parquet")
    _write(base, path)
    lo = int(rng.integers(0, rows - update_rows))
    pool = np.concatenate([np.arange(0, lo), np.arange(lo + update_rows, rows)])
    span = max(1, rows // 20)
    wlo = int(rng.integers(0, rows - span))
    return LakehouseInputs(
        out_dir=out_dir,
        seed=seed,
        base=path,
        rows=rows,
        append_batches=append_batches,
        append_rows=append_rows,
        customers=customers,
        updated=base.slice(lo, update_rows),
        update_range=(lo, lo + update_rows - 1),
        delete_order=rng.permutation(pool).astype(np.int64),
        delete_rows=delete_rows,
        where_range=(wlo, wlo + span),
    )


def _month_code(i: int) -> str:
    return f"{2000 + i // 12}M{i % 12 + 1:02d}"


@dataclass
class HicpCube:
    """Generated HICP series: the payload per (geo, coicop) plus the facts
    the pipeline's output must reproduce."""

    payloads: dict[tuple[str, str], bytes]
    series: list[dict[str, str]]
    n_obs: int
    n_missing: int
    # sum(round(value * 10)) over present cells: values carry one decimal,
    # so the checksum is exact in integer arithmetic.
    checksum: int
    input_bytes: int = field(default=0)

    def transport(self, url: str, timeout: int) -> tuple[int, bytes]:
        """In-process stand-in for the Eurostat API: serve one series per
        geo/coicop-filtered request."""
        q = urllib.parse.parse_qs(urllib.parse.urlparse(url).query)
        key = (q.get("geo", [""])[0], q.get("coicop", [""])[0])
        body = self.payloads.get(key)
        return (200, body) if body is not None else (404, b"unknown series")


def hicp_cube(
    seed: int, n_geo: int, n_coicop: int, n_months: int, missing_frac: float
) -> HicpCube:
    rng = np.random.default_rng(seed)
    geos = [f"{chr(65 + g // 26)}{chr(65 + g % 26)}" for g in range(n_geo)]
    coicops = [f"CP{c:03d}" for c in range(n_coicop)]
    times = {_month_code(m): m for m in range(n_months)}
    payloads: dict[tuple[str, str], bytes] = {}
    n_missing = checksum = 0
    for geo in geos:
        for coicop in coicops:
            steps = rng.integers(-5, 12, n_months)
            tenths = 800 + rng.integers(0, 400) + np.cumsum(steps)
            tenths = np.maximum(tenths, 1)
            missing = rng.random(n_months) < missing_frac
            dense = bool(rng.integers(0, 2))
            present = [int(t) for t, m in zip(tenths, missing) if not m]
            n_missing += int(missing.sum())
            checksum += sum(present)
            if dense:
                value: list | dict = [
                    None if m else int(t) / 10 for t, m in zip(tenths, missing)
                ]
            else:
                value = {
                    str(i): int(t) / 10
                    for i, (t, m) in enumerate(zip(tenths, missing))
                    if not m
                }
            payload = {
                "id": ["freq", "unit", "coicop", "geo", "time"],
                "size": [1, 1, 1, 1, n_months],
                "dimension": {
                    "freq": {"category": {"index": {"M": 0}}},
                    "unit": {"category": {"index": {"I15": 0}}},
                    "coicop": {"category": {"index": {coicop: 0}}},
                    "geo": {"category": {"index": {geo: 0}}},
                    "time": {"category": {"index": times}},
                },
                "value": value,
            }
            payloads[(geo, coicop)] = json.dumps(payload).encode()
    series = [{"geo": g, "coicop": c, "unit": "I15"} for g in geos for c in coicops]
    return HicpCube(
        payloads=payloads,
        series=series,
        n_obs=len(series) * n_months,
        n_missing=n_missing,
        checksum=checksum,
        input_bytes=sum(len(b) for b in payloads.values()),
    )


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if absent)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total

