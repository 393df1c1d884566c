"""Seeded generator for the engine's fixture tables.

Writes the ten tables the engine reads (``io.TABLES``) as one parquet
file each, with the schemas and value domains of the engine's test
fixtures (``FIXTURES.md``): a TPC-H-shaped star schema, a month of
``events``, a text corpus and a 64-d L2-normalized vector corpus. Row
counts per scale factor, the corpus's dedup structure and the column
encodings are the fixture files' own; like them, every timestamp is
stored as microseconds without a time zone (FIXTURES.md still lists
``events.ts`` as nanoseconds, an older version of the fixtures). The
same ``(seed, sf)`` always yields the same rows, so a benchmark run is
reproducible from its seed alone and needs no file from outside its
checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_START).astype(np.int64)) + 1
_EVENT_START_US = int(np.datetime64("2024-01-01", "us").astype(np.int64))
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the fixtures' ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def exact_dup_pairs(n_docs: int) -> int:
    """Exact-duplicate text pairs in a corpus of ``n_docs`` documents:
    none up to sf0.01 (500 documents), 8 at sf0.1 (5 000)."""
    return 0 if n_docs <= 500 else round(8 * n_docs / 5000)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    texts = []
    for _ in range(n):
        # 48..553 characters of single-space-separated vocabulary words
        target = int(rng.integers(48, 554))
        words: list[str] = []
        length = -1
        while length < target:
            w = VOCAB[int(rng.integers(0, len(VOCAB)))]
            words.append(w)
            length += len(w) + 1
        text = " ".join(words)[:target].rstrip()
        texts.append(text)
    # Dedup structure of the fixtures: a few exact copies (from sf0.1 on),
    # and n/20 near-duplicates, each the text of another document plus
    # " dup" (so a near-duplicate of a near-duplicate ends " dup dup").
    n_exact = exact_dup_pairs(n)
    n_near = n // 20
    picked = rng.choice(n, size=3 * n_exact + n_near, replace=False)
    for a, b in picked[: 2 * n_exact].reshape(-1, 2):
        texts[b] = texts[a]
    near = picked[3 * n_exact:]
    # A source serves one near-duplicate at most, and is no exact copy nor
    # a pending target, so near-duplicates add no exact duplicates.
    copies = picked[1: 2 * n_exact: 2]
    sources = [int(i) for i in
               np.setdiff1d(np.arange(n), np.r_[near, copies])]
    for d in near:
        s = sources.pop(int(rng.integers(0, len(sources))))
        texts[d] = texts[s] + " dup"
        sources.append(int(d))
    return texts


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = row_counts(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc)),
    })

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })

    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
    })

    no = n["orders"]
    order_day = rng.integers(0, _ORDER_DAYS, no)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(
            (_ORDER_START + order_day).astype("datetime64[us]")
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)),
    })

    nl = n["lineitem"]
    l_order = rng.integers(0, no, nl)
    ship_day = np.minimum(order_day[l_order] + rng.integers(1, 122, nl),
                          _ORDER_DAYS + 94)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(
            (_ORDER_START + ship_day).astype("datetime64[us]")
        ),
    })

    ne = n["events"]
    users = max(1, round(15_000 * sf))
    ts = np.sort(rng.integers(0, _EVENT_SPAN_US, ne)) + _EVENT_START_US
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, ne, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })

    nd = n["documents"]
    texts = _documents(rng, nd)
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    })
    return n
