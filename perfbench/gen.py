"""Seeded input derivation for the benchmark workloads.

Every table has the schema of the TPC-H-style fixture set the engine is
developed against (customer, supplier, part, orders, lineitem, nation,
region, events, documents, embeddings), with synthetic values drawn from
``numpy.random.default_rng(seed)``. The same seed gives byte-identical
parquet files; row counts depend only on the size arguments, never on the
seed, so different seeds give equally sized inputs.

Pure numpy + pyarrow: no Spark, no reads outside the output directory.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table for the anonymise_release workload: the sf0.1 fixture
#: shape, 893,030 rows (`embeddings` has no string column)
ANON_SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
COLORS = ["almond", "azure", "blush", "coral", "khaki", "linen", "navy",
          "olive", "plum", "rose", "sienna", "tan", "violet", "wheat"]
TYPE_WORDS = (["STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"],
              ["ANODIZED", "BRUSHED", "BURNISHED", "PLATED", "POLISHED"],
              ["BRASS", "COPPER", "NICKEL", "STEEL", "TIN"])
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64
EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00Z in microseconds
EPOCH_2024_US = 1_704_067_200_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, null_share: float = 0.0, p=None) -> pa.Array:
    """``n`` strings drawn from ``values``; ``null_share`` of them NULL."""
    idx = rng.choice(len(values), n, p=p).astype(np.int32)
    mask = rng.random(n) < null_share if null_share else None
    return pa.DictionaryArray.from_arrays(pa.array(idx, mask=mask), pa.array(values)).cast(pa.string())


def _phrases(rng, word_lists, n: int) -> list[str]:
    """``n`` phrases of one word from each of ``word_lists``."""
    cols = [np.asarray(w)[rng.integers(0, len(w), n)] for w in word_lists]
    return [" ".join(ws) for ws in zip(*(c.tolist() for c in cols))]


def orders_table(rng, n: int, n_customers: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_customers, n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": pa.array(_money(rng, n, 900.0, 450_000.0)),
        "o_orderdate": _ts(EPOCH_1992_US
                           + rng.integers(0, 3_000, n) * 86_400_000_000),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitem(rng, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    okeys = np.sort(rng.integers(0, n_orders, n, dtype=np.int64))
    starts = np.r_[0, np.flatnonzero(np.diff(okeys)) + 1]
    group_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n) - group_start + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_000, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts(EPOCH_1992_US + rng.integers(0, 3_000, n) * 86_400_000_000),
    })


def documents_table(rng, n: int) -> pa.Table:
    """Word-stream documents with planted curation targets: exact
    duplicates, one-word-edit near duplicates, boilerplate pages,
    repetitive pages and too-short pages (fixed shares of ``n``)."""
    texts: list[str] = []
    for i in range(n):
        kind = rng.random()
        if i > 10 and kind < 0.05:  # exact duplicate of an earlier doc
            t = texts[int(rng.integers(0, i))]
        elif i > 10 and kind < 0.10:  # near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            if len(words) > 20:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            t = " ".join(words)
        elif kind < 0.12:  # boilerplate page
            t = "lorem ipsum " + " ".join(rng.choice(VOCAB, 20))
        elif kind < 0.14:  # repetitive page
            t = " ".join([str(rng.choice(VOCAB))] * 40)
        elif kind < 0.16:  # too short for min_tokens
            t = str(rng.choice(VOCAB))
        else:
            t = " ".join(rng.choice(VOCAB, int(rng.integers(12, 70))))
        texts.append(t)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{k}" for k in rng.integers(0, N_SOURCES, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n: int, n_labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (n_labels, EMB_DIM))
    labels = rng.integers(0, n_labels, n)
    vecs = (centers[labels] + 0.3 * rng.normal(0.0, 1.0, (n, EMB_DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def anonymise_tables(seed: int, sizes: dict[str, int] = ANON_SIZES) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = sizes
    nat = rng.integers(0, 25, s["customer"]).astype(np.int32)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(s["region"], dtype=np.int32)),
            "r_name": pa.array(REGIONS[: s["region"]]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(s["nation"], dtype=np.int32)),
            "n_name": pa.array([f"NATION{k:02d}" for k in range(s["nation"])]),
            "n_regionkey": pa.array(rng.integers(0, s["region"], s["nation"]).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(s["customer"], dtype=np.int64)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(s["customer"])]),
            "c_nationkey": pa.array(nat),
            "c_acctbal": pa.array(_money(rng, s["customer"], -999.99, 9_999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, s["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(s["supplier"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(s["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, s["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, s["supplier"], -999.99, 9_999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(s["part"], dtype=np.int64)),
            "p_name": pa.array(_phrases(rng, [COLORS] * 3, s["part"])),
            "p_brand": pa.array([f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (s["part"], 2))]),
            "p_type": pa.array(_phrases(rng, TYPE_WORDS, s["part"]),
                               mask=rng.random(s["part"]) < 0.02),
            "p_size": pa.array(rng.integers(1, 51, s["part"]).astype(np.int32)),
            "p_retailprice": pa.array(_money(rng, s["part"], 900.0, 2_000.0)),
        }),
        "orders": orders_table(rng, s["orders"], s["customer"]),
        "lineitem": _lineitem(rng, s["lineitem"], s["orders"], s["part"], s["supplier"]),
        "events": pa.table({
            "event_id": pa.array(np.arange(s["events"], dtype=np.int64)),
            "ts": _ts(EPOCH_2024_US + np.sort(rng.integers(0, 86_400_000_000, s["events"]))),
            "user_id": pa.array(rng.integers(0, 2_000, s["events"], dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, s["events"], null_share=0.01),
            "value": pa.array(_money(rng, s["events"], 0.0, 500.0)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, s["events"])]),
        }),
        "documents": documents_table(rng, s["documents"]),
        "embeddings": embeddings_table(rng, s["embeddings"]),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str | os.PathLike) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` per table; returns bytes per table."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    sizes = {}
    for name, tbl in tables.items():
        path = out / f"{name}.parquet"
        pq.write_table(tbl, path)
        sizes[name] = path.stat().st_size
    return sizes
