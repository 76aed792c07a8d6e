"""Seeded TPC-H-like warehouse tables plus the events, documents and
embeddings tables the catalog reads.

Schemas, value domains and date ranges follow the fixture tables the query
catalog is written against (one parquet file per table, naive microsecond
timestamps), so every catalog entry and its DuckDB oracle run unchanged on
the generated data.  Row counts scale with ``sf`` (``sf=0.01`` gives 60k
lineitems).
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS_A = ["red", "small", "hot", "old", "large", "blue", "green", "cold"]
PART_WORDS_B = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DAY_US = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
TS = pa.timestamp("us")


def _write(out: Path, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def generate(out_dir: Path, seed: int, sf: float = 0.01) -> None:
    """Write the ten tables under ``out_dir`` as ``<table>.parquet``."""
    rng = np.random.default_rng([seed, 0x7AB1E])
    out_dir.mkdir(parents=True, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    # whole-dollar prices keep every discounted line price at two decimals,
    # so rounded revenue sums never sit on a half-cent that the two engines'
    # summation orders could round apart
    retail = 900.0 + (np.arange(n_part) % 100)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{PART_WORDS_A[a]} {PART_WORDS_B[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(retail),
    })

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(ORDER_EPOCH_US + order_day * DAY_US, type=TS),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })

    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_day = order_day[okey] + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey.astype(np.int64)),
        "l_partkey": pa.array(partkey.astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * retail[partkey]),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(ORDER_EPOCH_US + ship_day * DAY_US, type=TS),
    })

    ts = EVENT_EPOCH_US + np.sort(rng.choice(30 * DAY_US, n_events, replace=False))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=TS),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": pa.array(_money(rng, 0.01, 500.0, n_events)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    _documents(out_dir, rng, n_docs=max(100, int(50_000 * sf)))
    _embeddings(out_dir, rng, n_vecs=max(100, int(50_000 * sf)))


def _documents(out_dir: Path, rng: np.random.Generator, n_docs: int) -> None:
    """Random-token documents; about 5% are near-copies of an earlier
    document (one token swapped, ``dup`` appended), so the dedup and
    decontamination operators find real pairs."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(toks + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(out_dir: Path, rng: np.random.Generator, n_vecs: int) -> None:
    """Unit vectors around ten label centres (weakly clustered)."""
    dim = 64
    label = rng.integers(0, 10, n_vecs)
    centres = rng.normal(size=(10, dim))
    x = centres[label] * 0.15 + rng.normal(size=(n_vecs, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
