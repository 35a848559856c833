"""Seeded inputs and expected results for the ``etl_reference`` workload.

Writes, under ``OUT_DIR/seed<N>-<rows>/``:

- ``sales.csv``: the reference sales schema, with exact duplicate rows,
  NULL critical fields, malformed order dates and NULL categories;
- ``customers.csv``: the reference customers schema, with invalid and
  NULL emails, NULL regions, malformed registration dates and NULL keys;
- ``customers_delta.csv``: updates of existing customers plus new keys,
  merged into the loaded customers table;
- ``expected.json``: the results the pipeline must produce, computed
  here in exact integer cents without Spark.

The same seed and size always give the same files; a finished directory
is reused.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

SNAPSHOT = dt.date(2025, 1, 1)
CATEGORIES = ["Electronics", "Books", "Home", "Toys", "Одежда"]
REGIONS = ["Москва", "Berlin", "São Paulo", "Tokyo", "Lagos", "Toronto"]
PRODUCT_WORDS = ["Lamp", "Desk", "Чайник", "Phone", "Book", "Chair", "Кружка"]
BAD_DATES = ["2024-13-01", "n/a", "15.01.2024", "2024-02-30"]
PRODUCTS = 2000
LINES_MAX = 7  # lines per order; distinct products within an order
#: Most recently used input directories kept on disk.
KEEP_SEEDS = 4


def _date_strings(rng, first: str, last: str, n: int) -> np.ndarray:
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype(str)


def _sales(rng, rows: int, n_customers: int):
    """Clean sales lines plus the injected defects, in file order."""
    sizes = rng.integers(1, LINES_MAX + 1, rows)
    sizes = sizes[: np.searchsorted(np.cumsum(sizes), rows) + 1]
    n_orders = len(sizes)
    order_of_line = np.repeat(np.arange(n_orders), sizes)[:rows]
    line_no = np.arange(rows) - np.repeat(np.cumsum(sizes) - sizes, sizes)[:rows]
    first_product = rng.integers(0, PRODUCTS, n_orders)
    product = (first_product[order_of_line] + 7919 * line_no) % PRODUCTS
    # ~2% of orders name a customer that is not in customers.csv
    cust = rng.integers(0, int(n_customers * 1.02), n_orders)
    odate = _date_strings(rng, "2023-01-01", "2024-12-31", n_orders)
    cols = {
        "order_id": (order_of_line + 100_000).astype(object),
        "customer_id": np.array([f"CUST{c:06d}" for c in cust], object)[
            order_of_line
        ],
        "product_id": np.array([f"PROD{p}" for p in range(PRODUCTS)], object)[
            product
        ],
        "product_name": np.array(
            [f"{PRODUCT_WORDS[p % len(PRODUCT_WORDS)]} {p}" for p in range(PRODUCTS)],
            object,
        )[product],
        "quantity": rng.integers(1, 7, rows).astype(object),
        "price_cents": rng.integers(100, 67_801, rows),
        "order_date": odate[order_of_line].astype(object),
        "category": np.array(CATEGORIES, object)[
            rng.integers(0, len(CATEGORIES), rows)
        ],
    }
    # Disjoint defect sets: NULL critical field, malformed date, NULL
    # category. Duplicates are exact copies of untouched lines.
    picks = rng.permutation(rows)
    k = rows // 200
    null_rows, bad_date_rows = picks[:k], picks[k:2 * k]
    null_cat_rows = picks[2 * k:2 * k + rows // 50]
    dup_rows = picks[2 * k + rows // 50:2 * k + rows // 50 + rows // 100]
    unit_price = (cols["price_cents"] / 100.0).astype(object)
    for i, field in zip(null_rows, rng.integers(0, 5, k)):
        name = ("order_id", "customer_id", "quantity", "unit_price", "order_date")[field]
        if name == "unit_price":
            unit_price[i] = None
        else:
            cols[name][i] = None
    cols["order_date"][bad_date_rows] = np.array(BAD_DATES, object)[
        rng.integers(0, len(BAD_DATES), len(bad_date_rows))
    ]
    cols["category"][null_cat_rows] = None
    order = np.concatenate([np.arange(rows), dup_rows])
    order = order[rng.permutation(len(order))]
    table = {
        "order_id": cols["order_id"][order],
        "customer_id": cols["customer_id"][order],
        "product_id": cols["product_id"][order],
        "product_name": cols["product_name"][order],
        "quantity": cols["quantity"][order],
        "unit_price": unit_price[order],
        "order_date": cols["order_date"][order],
        "category": cols["category"][order],
    }
    clean = np.ones(rows, bool)
    clean[null_rows] = False
    clean[bad_date_rows] = False
    return table, cols, clean


def _customers(rng, ids: np.ndarray, email_tag: int):
    """Customer rows for ``ids``; ``email_tag`` tells an update's email
    from the original's."""
    n = len(ids)
    kind = rng.random(n)
    email = np.array(
        [f"user{i}.{email_tag}@example.com" for i in ids], object
    )
    email[kind < 0.05] = "invalid-email"
    email[(kind >= 0.05) & (kind < 0.08)] = None
    valid = kind >= 0.08
    reg = _date_strings(rng, "2021-01-01", "2024-12-31", n).astype(object)
    bad = rng.random(n) < 0.01
    reg[bad] = "2023-99-99"
    region = np.array(REGIONS, object)[rng.integers(0, len(REGIONS), n)]
    region[rng.random(n) < 0.03] = None
    cid = np.array([f"CUST{i:06d}" for i in ids], object)
    cid[rng.random(n) < 0.005] = None
    names = np.array(
        [("Клиент " if i % 3 == 0 else "Customer ") + str(i) for i in ids],
        object,
    )
    table = {
        "customer_id": cid,
        "customer_name": names,
        "email": email,
        "registration_date": reg,
        "region": region,
    }
    return table, valid, ~bad


def _write_csv(path: Path, cols: dict) -> None:
    arrays = {
        k: pa.array(list(v), type=pa.string() if k != "order_id" else pa.int64())
        if k not in ("quantity", "unit_price")
        else pa.array(list(v))
        for k, v in cols.items()
    }
    tmp = path.with_suffix(".tmp")
    pacsv.write_csv(
        pa.table(arrays), tmp,
        pacsv.WriteOptions(quoting_style="needed"),
    )
    os.replace(tmp, path)


def _customer_rows(table, valid, date_ok) -> dict[str, list]:
    """Expected cleaned rows keyed by customer_id (NULL keys dropped)."""
    out = {}
    for i, cid in enumerate(table["customer_id"]):
        if cid is None:
            continue
        reg = table["registration_date"][i]
        days = (
            (SNAPSHOT - dt.date.fromisoformat(reg)).days if date_ok[i] else None
        )
        out[cid] = [
            table["customer_name"][i],
            table["email"][i],
            reg if date_ok[i] else None,
            table["region"][i] or "Unknown",
            bool(valid[i]),
            days,
        ]
    return out


def expected_results(sales_cols, clean, customers: dict, merged: dict) -> dict:
    """Reference answers in exact integer arithmetic."""
    totals = defaultdict(lambda: [0, 0, set()])
    order_cents = defaultdict(int)
    order_customer = {}
    product = defaultdict(lambda: [0, 0])
    rows = 0
    for i in np.flatnonzero(clean):
        oid = sales_cols["order_id"][i]
        qty = sales_cols["quantity"][i]
        cents = qty * int(sales_cols["price_cents"][i])
        month = sales_cols["order_date"][i][:7]
        cat = sales_cols["category"][i] or "Unknown"
        rows += 1
        t = totals[(cat, month)]
        t[0] += cents
        t[1] += qty
        t[2].add(oid)
        order_cents[oid] += cents
        order_customer[oid] = sales_cols["customer_id"][i]
        p = product[sales_cols["product_id"][i]]
        p[0] += qty
        p[1] += cents
    region_orders = defaultdict(lambda: [0, 0])
    for oid, cents in order_cents.items():
        cust = customers.get(order_customer[oid])
        r = region_orders[cust[3] if cust else "Unknown"]
        r[0] += 1
        r[1] += cents
    top = sorted(product.items(), key=lambda kv: (-kv[1][0], -kv[1][1], kv[0]))
    return {
        "sales_rows": rows,
        "customers_rows": len(customers),
        "summary": {
            f"{c}|{m}": [t[0], t[1], len(t[2])] for (c, m), t in totals.items()
        },
        "region_orders": {r: v for r, v in region_orders.items()},
        "top_products": [pid for pid, _ in top[:5]],
        "customers_after_merge": merged,
    }


def write_inputs(out_dir: Path, seed: int, rows: int) -> Path:
    """Generate (or reuse) the inputs for ``seed`` and return their
    dir; only the ``KEEP_SEEDS`` most recently used stay on disk."""
    d = out_dir / f"seed{seed}-{rows}"
    d.mkdir(parents=True, exist_ok=True)
    os.utime(d)
    for old in sorted(out_dir.iterdir(), key=lambda p: p.stat().st_mtime)[:-KEEP_SEEDS]:
        shutil.rmtree(old)
    if (d / "expected.json").exists():
        return d
    rng = np.random.default_rng(seed)
    n_customers = max(50, rows // 10)
    sales, sales_cols, clean = _sales(rng, rows, n_customers)
    cust, valid, date_ok = _customers(rng, np.arange(n_customers), 0)
    n_delta = max(10, n_customers // 10)
    updated = rng.choice(n_customers, n_delta * 3 // 5, replace=False)
    upd, upd_valid, upd_ok = _customers(rng, updated, 0)
    new, new_valid, new_ok = _customers(
        rng, np.arange(n_customers, n_customers + n_delta - len(updated)),
        n_customers,
    )
    delta = {k: np.concatenate([upd[k], new[k]]) for k in upd}
    # a merge source needs a key on every row
    has_key = np.array([c is not None for c in delta["customer_id"]])
    delta = {k: v[has_key] for k, v in delta.items()}
    d_valid = np.concatenate([upd_valid, new_valid])[has_key]
    d_ok = np.concatenate([upd_ok, new_ok])[has_key]
    _write_csv(d / "sales.csv", sales)
    _write_csv(d / "customers.csv", cust)
    _write_csv(d / "customers_delta.csv", delta)
    customers = _customer_rows(cust, valid, date_ok)
    merged = dict(customers)
    merged.update(_customer_rows(delta, d_valid, d_ok))
    expected = expected_results(sales_cols, clean, customers, merged)
    expected["input_rows"] = int(len(sales["order_id"]))
    expected["delta_rows"] = int(has_key.sum())
    tmp = d / "expected.json.tmp"
    tmp.write_text(json.dumps(expected, ensure_ascii=False))
    os.replace(tmp, d / "expected.json")
    return d

