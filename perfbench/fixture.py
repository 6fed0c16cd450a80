"""Seeded generator of the benchmark's input tables.

Writes the ten fixture tables the registry reads (``parity.TABLES``) as
single parquet files under one directory, with the schemas and value
ranges of the repository's sf fixtures: a TPC-H-like star schema, an
``events`` stream table and the ``documents``/``embeddings`` curation
tables. Row counts scale with ``sf`` the way the sf0.001/0.01/0.1
fixtures do. ``copies > 1`` derives an enlarged fixture the way
``scripts/scaling_probe.py`` does: fact tables (orders, lineitem,
events) are unioned ``copies`` times with shifted keys, so every copy
stays foreign-key valid and unique-keyed, while dimensions stay at 1x.

The same (seed, sf, copies) always yields byte-identical tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "valve", "spring", "plate", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64
FACTS = ("orders", "lineitem", "events")
US_PER_DAY = 86_400 * 1_000_000
# 1995-01-01 and 2024-01-01 as epoch microseconds
EPOCH_1995 = 788_918_400 * 1_000_000
EPOCH_2024 = 1_704_067_200 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype("int32")), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def base_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The 1x tables for ``sf`` drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    color = rng.integers(0, len(COLORS), n_part)
    noun = rng.integers(0, len(NOUNS), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": pa.array([f"{COLORS[c]} {NOUNS[w]}" for c, w in zip(color, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
        ),
    })
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    # 1-7 lines per order (mean 4), (l_orderkey, l_linenumber) unique
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_num = (np.arange(n_li) - starts + 1).astype("int32")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype="int64")),
        "l_linenumber": pa.array(l_num),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(
            odate[l_order] + rng.integers(1, 122, n_li) * US_PER_DAY
        ),
    })
    # events: strictly increasing timestamps over 30 days
    gaps = rng.exponential(30 * US_PER_DAY / n_ev, n_ev).astype("int64") + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype="int64")),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    # documents: word soup over a shared vocabulary; ~5% are an earlier
    # original plus a " dup" marker, so near-duplicate pairs exist. Each
    # original is copied at most once: like the repository's fixtures,
    # no two texts are equal (the near-dup operators return exact
    # duplicates as star edges by design, which the all-pairs oracles
    # do not model)
    texts: list[str] = []
    originals: list[int] = []
    n_words = rng.integers(10, 101, n_docs)
    dup_of = rng.random(n_docs)
    for i in range(n_docs):
        if originals and dup_of[i] < 0.05:
            src = originals.pop(int(rng.integers(0, len(originals))))
            texts.append(texts[src] + " dup")
        else:
            originals.append(i)
            words = rng.integers(0, len(VOCAB), n_words[i])
            texts.append(" ".join(VOCAB[w] for w in words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype="int64")),
    })
    # embeddings: unit vectors, weakly clustered by label
    labels = rng.integers(0, 10, n_vec)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    vecs = rng.normal(0.0, 1.0, (n_vec, DIM)) + 0.5 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype("int32")),
    })
    return t


def _shifted(table: pa.Table, name: str, copies: int) -> pa.Table:
    """``copies`` key-shifted unions of one fact table."""
    if copies == 1:
        return table
    if name in ("orders", "lineitem"):
        keys = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"]}[name]
    else:
        keys = ["event_id", "user_id"]
    base = {c: table[c].to_numpy() for c in keys}
    span = {c: int(v.max()) + 1 for c, v in base.items()}
    parts = []
    for i in range(copies):
        part = table
        for c in keys:
            part = part.set_column(
                part.schema.get_field_index(c), c,
                pa.array(base[c] + i * span[c]),
            )
        parts.append(part)
    return pa.concat_tables(parts)


def generate(out_dir: str, seed: int, sf: float, copies: int = 1) -> int:
    """Write the fixture to ``out_dir`` (replacing it); returns its bytes."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    total = 0
    for name, table in base_tables(seed, sf).items():
        if name in FACTS:
            table = _shifted(table, name, copies)
        path = os.path.join(out_dir, f"{name}.parquet")
        # ~8 row groups per large table, so scans split across task slots
        pq.write_table(table, path, row_group_size=max(1 << 14, table.num_rows // 8))
        total += os.path.getsize(path)
    return total
