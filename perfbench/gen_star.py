"""Seeded star-schema generator for the query-mix workloads.

Writes the ten tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as single-row-group parquet files, with the column names,
types and value distributions of the engine's reference test data.
Row counts scale like TPC-H: ``scale=1`` is 6 M line items. The
generator seed is fixed, so a scale always gives the same tables.
"""

from __future__ import annotations

import datetime as dt
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
PART_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10
SEED = 20260101


def row_counts(scale: float) -> dict[str, int]:
    """Rows per table at ``scale`` (documents/embeddings have a floor
    of 500 so the text and vector operators always see a corpus)."""
    def n(per_unit: int, floor: int = 1) -> int:
        return max(floor, round(per_unit * scale))

    return {
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi]."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    """Uniform midnight timestamps between two ISO dates."""
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random texts over a 30-word vocabulary; 5% are near-duplicates
    (another document plus a trailing ``dup``) and 8 are exact copies."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    ids = rng.permutation(n)
    n_near, n_exact = n // 20, 8
    near, exact = ids[:n_near], ids[n_near:n_near + n_exact]
    plain = ids[n_near + n_exact:]
    for i, src in zip(near, rng.choice(plain, n_near)):
        texts[i] = texts[src] + " dup"
    for i, src in zip(exact, rng.choice(plain, n_exact)):
        texts[i] = texts[src]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors: a weak per-label direction plus isotropic noise."""
    centres = rng.standard_normal((EMBED_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, EMBED_LABELS, n).astype(np.int32)
    v = 0.9 * centres[label] + rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": label,
    })


def build_tables(scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(SEED)
    n = row_counts(scale)
    i32, i64 = np.int32, np.int64
    tables = {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=i64),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": np.array(SEGMENTS)[
                rng.integers(0, 5, n["customer"])
            ],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=i64),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }),
    }
    n_part = n["part"]
    partkey = np.arange(n_part, dtype=i64)
    tables["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": 900.0 + (partkey % 1000) / 10.0,
    })
    n_ord = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n["customer"], n_ord).astype(i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    n_li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
        "l_suppkey": rng.integers(0, n["supplier"], n_li).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    n_ev = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86_400 * 1_000_000
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=i64),
        # strictly increasing, so no ordering depends on a tie
        "ts": t0 + np.cumsum(rng.integers(1, 2 * month_us // n_ev, n_ev)),
        "user_id": rng.integers(
            0, max(15, round(15_000 * scale)), n_ev
        ).astype(i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_star(out_dir: Path, scale: float) -> Path:
    """Write every table under ``out_dir`` (skipped when a finished
    copy is already there) and return ``out_dir``."""
    done = out_dir / "_SUCCESS"
    if done.exists():
        return out_dir
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(scale).items():
        tmp = out_dir / f".{name}.parquet.tmp"
        pq.write_table(table, tmp, row_group_size=table.num_rows or 1)
        os.replace(tmp, out_dir / f"{name}.parquet")
    done.write_text(dt.datetime.now(dt.timezone.utc).isoformat())
    return out_dir

