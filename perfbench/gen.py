"""Seeded input generator for the benchmark.

Everything the engine sees in a run is written here, from ``--seed``
alone: the star-schema tables the registry queries read (same schemas
as FIXTURES.md §2), the raw-transaction micro-batches the ETL path
ingests (FIXTURES.md §1, derived from the generated ``lineitem``, whose
ship dates follow their ``orders``, by the role mapping in
``_transactions``), and the document / embedding
arrival files the streaming drains consume. The same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Star-schema sizes (the sf0.001 shape of the fixture tables).
SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

# Raw transactions: rows per ETL micro-batch (about the 3.4k rows of one
# day's batch derived from the sf0.1 fixture) and the seeded edge-case
# rates.
TXN_BATCH_ROWS = 3400
TXN_BATCHES = 12
TXN_NULL_TOTAL = 0.02
TXN_ZERO_TOTAL = 0.02
TXN_KEYED_DUP = 0.03
TXN_NULL_CRITICAL = 0.02
TXN_SAME_SECOND = 0.05
# Share of batches whose first row repeats the previous batch's last
# second: the strict watermark predicate must drop it. Every rate is an
# exact count per batch (see _marks).
TXN_CROSS_BATCH_TIE = 0.5
N_TRUCKS = 8

# Arrival files for the streaming drains. A document arrival is 100 docs
# where the measured text-dedup micro-batch is 500: the drains' cost is
# mostly per-batch overhead, and 500-doc arrivals put a run over budget.
DOC_ARRIVAL_ROWS = 100
DOC_ARRIVALS = 12
EMB_ARRIVAL_ROWS = 80
EMB_ARRIVALS = 12
EMB_DIM = 64

# Documents: 10-99 words, as in the fixture corpus; DOC_NEAR_COPY of them
# repeat an earlier document with the last word replaced (exact shingle
# Jaccard 0.8-0.98, like the fixture's near-copies, ~5 % of its docs).
# The fixture's 5,000-doc sf0.1 corpus over 31 words gives MinHash
# banding a candidate-verify yield of ~6 % (256 true pairs among 4,329
# candidates); on 500 documents the same yield needs DOC_VOCAB = 16
# words, which gives 6-7 % (~420 candidates for ~28 true pairs).
DOC_NEAR_COPY = 0.05
DOC_VOCAB = 16
_WORDS = (
    "a the big small fast slow data table row column key value hash join merge sort "
    "scan filter group agg order line part customer query spark stream batch window vector"
).split()[:DOC_VOCAB]
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]


@dataclass(frozen=True)
class Inputs:
    """Paths of one run's generated inputs."""

    sf_dir: str
    txn_batches: list[str]
    doc_arrivals: list[str]
    emb_arrivals: list[str]


def _marks(rng: np.random.Generator, n: int, rate: float, start: int = 0) -> np.ndarray:
    """Exactly ``round(rate * n)`` marked positions among ``start..n-1``:
    the seed moves where edge cases fall, never how many there are, so
    every seed costs the engine the same work."""
    out = np.zeros(n, dtype=bool)
    out[rng.choice(np.arange(start, n), min(n - start, round(rate * n)), replace=False)] = True
    return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts(seconds: np.ndarray, base: datetime) -> pa.Array:
    us = (seconds * 1_000_000).astype("int64") + int((base - datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_schema(rng: np.random.Generator, out: str) -> dict[str, pa.Table]:
    n = SIZES
    day0 = datetime(1995, 1, 1)
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, n["customer"]),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n["customer"]
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999, 9999, n["supplier"]),
        }
    )
    adj = ["cold", "hot", "small", "large", "blue", "red", "old", "new"]
    noun = ["widget", "bolt", "gear", "ring", "rod", "plate", "anvil", "nut"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
        }
    )
    o_days = rng.integers(0, 2404, n["orders"])
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _ts(o_days * 86400.0, day0),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"]
            ),
        }
    )
    l_order = rng.integers(0, n["orders"], n["lineitem"])
    qty = rng.integers(1, 51, n["lineitem"]).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n["lineitem"]), 2),
            "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _ts((o_days[l_order] + rng.integers(1, 122, n["lineitem"])) * 86400.0, day0),
        }
    )
    ev_s = np.sort(rng.uniform(0, 30 * 86400, n["events"]))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n["events"]), pa.int64()),
            "ts": _ts(ev_s, datetime(2024, 1, 1)),
            "user_id": pa.array(rng.integers(0, 150, n["events"]), pa.int64()),
            "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n["events"]),
            "value": _money(rng, 0.01, 490.02, n["events"]),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        }
    )
    t["documents"] = _documents(rng, [], 0, n["documents"])
    t["embeddings"] = _embeddings(rng, _centers(rng), [], 0, n["embeddings"])
    for name, table in t.items():
        _write(table, os.path.join(out, f"{name}.parquet"))
    return t


def _documents(rng: np.random.Generator, pool: list[str], first_id: int, n: int) -> pa.Table:
    """Random word documents; DOC_NEAR_COPY of them are near-copies of an
    earlier doc in ``pool`` or in this table, so MinHash banding finds
    true pairs among its candidates, within a file and across arrival
    files. The new texts are appended to ``pool``."""
    texts: list[str] = []
    lengths = rng.permutation(np.linspace(10, 99, n).round().astype(int))
    near = _marks(rng, n, DOC_NEAR_COPY, start=0 if pool else 1)
    for i in range(n):
        if near[i]:
            src = pool + texts
            words = src[int(rng.integers(0, len(src)))].split()
            words[-1] = _WORDS[(_WORDS.index(words[-1]) + int(rng.integers(1, DOC_VOCAB))) % DOC_VOCAB]
        else:
            words = list(rng.choice(_WORDS, int(lengths[i])))
        texts.append(" ".join(words))
    pool.extend(texts)
    ids = np.arange(first_id, first_id + n)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _centers(rng: np.random.Generator) -> np.ndarray:
    c = rng.normal(size=(10, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _embeddings(rng: np.random.Generator, centers: np.ndarray, pool: list, first_id: int, n: int) -> pa.Table:
    """Unit vectors around ten label centres; ~10 % are jittered copies
    of an earlier vector in ``pool`` (near-duplicates for the dedup
    operators). The new (vector, label) pairs are appended to ``pool``."""
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.35, size=(n, EMB_DIM))
    near = _marks(rng, n, 0.10, start=0 if pool else 1)
    for i in range(n):
        if near[i]:
            v, labels[i] = pool[int(rng.integers(0, len(pool)))]
            vecs[i] = v + rng.normal(scale=0.01, size=EMB_DIM)
        vecs[i] /= np.linalg.norm(vecs[i])
        pool.append((vecs[i].copy(), labels[i]))
    vecs = vecs.astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


_TXN_SCHEMA = pa.schema(
    [
        ("transaction_id", pa.int64()),
        ("at", pa.string()),
        ("total", pa.int64()),
        ("truck_id", pa.int32()),
        ("payment_method_id", pa.int32()),
        ("truck_name", pa.string()),
        ("truck_description", pa.string()),
        ("has_card_reader", pa.int32()),
        ("fsa_rating", pa.int32()),
        ("payment_method", pa.string()),
    ]
)


def _transactions(rng: np.random.Generator, lineitem: pa.Table, out: str) -> list[str]:
    """Raw-transaction micro-batches (FIXTURES.md §1 schema).

    Role mapping: lineitem rows in ship-date order become transactions
    (cycled: the batches take more rows than ``lineitem`` has);
    ``total`` is the discounted extended price in pence / 10; the
    supplier picks the truck and the line number's parity the payment
    method. Event times are compressed so each batch covers about one
    day, the reference's incremental cadence. Edge cases are injected
    at the TXN_* rates: NULL and zero totals, keyed duplicates with a
    later id, NULL critical columns, same-second ties inside a batch and
    a tie with the previous batch's watermark."""
    li = lineitem.to_pydict()
    order = np.lexsort((np.arange(len(li["l_shipdate"])), np.array(li["l_shipdate"], dtype="datetime64[us]")))
    trucks = {
        t: (f"Truck {t}", f"Food truck number {t}", int(t % 3 != 0), int(1 + t % 5)) for t in range(1, N_TRUCKS + 1)
    }
    methods = {1: "card", 2: "cash"}
    base = datetime(2024, 3, 1)
    paths = []
    next_id = 1
    row = 0
    prev_last: datetime | None = None
    step = 86400.0 / TXN_BATCH_ROWS
    n = TXN_BATCH_ROWS
    cross_tie = _marks(rng, TXN_BATCHES, TXN_CROSS_BATCH_TIE, start=1)
    for b in range(TXN_BATCHES):
        rows = []
        sec = b * 86400.0 + 3600.0
        same_second = _marks(rng, n, TXN_SAME_SECOND, start=1)
        null_total = _marks(rng, n, TXN_NULL_TOTAL)
        zero_total = _marks(rng, n, TXN_ZERO_TOTAL) & ~null_total
        null_critical = _marks(rng, n, TXN_NULL_CRITICAL)
        keyed_dup = _marks(rng, n, TXN_KEYED_DUP)
        for k in range(n):
            i = order[row % len(order)]
            row += 1
            if k == 0 and cross_tie[b]:
                at = prev_last
            elif same_second[k]:
                at = rows[-1][1]
            else:
                sec += rng.uniform(0.2, 1.8) * step
                at = base + timedelta(seconds=int(sec))
            truck = int(li["l_suppkey"][i]) % N_TRUCKS + 1
            pm = 1 + int(li["l_linenumber"][i]) % 2
            total = int(round(li["l_extendedprice"][i] * (1 - li["l_discount"][i]) * 10))
            if null_total[k]:
                total = None
            elif zero_total[k]:
                total = 0
            rec = [next_id, at, total, truck, pm, *trucks[truck], methods[pm]]
            if null_critical[k]:
                rec[int(rng.choice([1, 3, 4]))] = None
            next_id += 1
            rows.append(rec)
            if keyed_dup[k]:
                dup = list(rec)
                dup[0] = next_id
                next_id += 1
                rows.append(dup)
        stamped = [r[1] for r in rows if r[1] is not None]
        prev_last = max(stamped)
        cols = list(zip(*rows))
        cols[1] = [a.strftime("%Y-%m-%d %H:%M:%S") if a is not None else None for a in cols[1]]
        table = pa.table({f.name: pa.array(c, f.type) for f, c in zip(_TXN_SCHEMA, cols)}, schema=_TXN_SCHEMA)
        path = os.path.join(out, f"txn_{b:04d}.parquet")
        _write(table, path)
        paths.append(path)
    return paths


def generate(seed: int, root: str) -> Inputs:
    """Write every input of one run under ``root`` and return their paths."""
    rng = np.random.default_rng(seed)
    sf_dir = os.path.join(root, "tables")
    tables = _star_schema(rng, sf_dir)
    txn = _transactions(rng, tables["lineitem"], os.path.join(root, "raw_txn"))
    centers = _centers(rng)
    docs, embs, doc_pool, emb_pool = [], [], [], []
    next_doc = SIZES["documents"]
    next_vec = SIZES["embeddings"]
    for b in range(DOC_ARRIVALS):
        p = os.path.join(root, "doc_arrivals", f"docs_{b:04d}.parquet")
        _write(_documents(rng, doc_pool, next_doc, DOC_ARRIVAL_ROWS), p)
        docs.append(p)
        next_doc += DOC_ARRIVAL_ROWS
    for b in range(EMB_ARRIVALS):
        p = os.path.join(root, "emb_arrivals", f"emb_{b:04d}.parquet")
        _write(_embeddings(rng, centers, emb_pool, next_vec, EMB_ARRIVAL_ROWS), p)
        embs.append(p)
        next_vec += EMB_ARRIVAL_ROWS
    return Inputs(sf_dir=sf_dir, txn_batches=txn, doc_arrivals=docs, emb_arrivals=embs)
