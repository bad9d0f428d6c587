"""Seeded input generation for the workload benchmark.

Every input the package sees is made here from the workload seed: the
TPC-H-ish star schema (same table names, columns, types and value
domains as the package's test data), the dirty CSV, the DML
predicates and MERGE batch, the near-duplicate document variants and
the ANN query vectors. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64
EMB_CLUSTERS = 10
NEAR_DUP_SHARE = 0.3

_DAY_US = 86_400 * 1_000_000


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def star_schema(out_dir: str, sf: float, seed: int, names: list[str]) -> dict[str, int]:
    """Write the named tables of region/nation/customer/supplier/part/
    orders/lineitem/events as ``<out_dir>/<name>.parquet``; returns rows
    per table. Each table draws from its own seeded stream, so a table's
    contents do not depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
    }
    n["lineitem"] = 4 * n["orders"]
    rows = {}
    for name in names:
        rng = np.random.default_rng([seed, 1, TABLES.index(name)])
        t = _TABLE_GEN[name](rng, n)
        write_parquet(t, f"{out_dir}/{name}.parquet")
        rows[name] = t.num_rows
    return rows


_I32, _I64 = pa.int32(), pa.int64()


def _region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(5), _I32), "r_name": REGIONS})


def _nation(rng, n):
    return pa.table(
        {
            "n_nationkey": pa.array(range(25), _I32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], _I32),
        }
    )


def _customer(rng, n):
    k = n["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(k), _I64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), _I32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, k)],
        }
    )


def _supplier(rng, n):
    k = n["supplier"]
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(k), _I64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), _I32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )


def _part(rng, n):
    k = n["part"]
    adj, noun = rng.integers(0, 8, k), rng.integers(0, 8, k)
    return pa.table(
        {
            "p_partkey": pa.array(np.arange(k), _I64),
            "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": np.array(P_TYPES)[rng.integers(0, 6, k)],
            "p_size": pa.array(rng.integers(1, 51, k), _I32),
            "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10, 1),
        }
    )


def _orders(rng, n):
    k = n["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(k), _I64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), _I64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, k),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", k),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, k)],
        }
    )


def _lineitem(rng, n):
    k = n["lineitem"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), _I64),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), _I64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), _I64),
            "l_linenumber": pa.array(rng.integers(1, 8, k), _I32),
            "l_quantity": rng.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, k),
            "l_discount": rng.integers(0, 11, k) / 100.0,
            "l_tax": rng.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, k)],
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", k),
        }
    )


def _events(rng, n):
    k = n["events"]
    offs = np.sort(rng.uniform(0, 30 * 86_400, k))
    return pa.table(
        {
            "event_id": pa.array(np.arange(k), _I64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + (offs * 1e6).astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, max(15, k * 3 // 200), k), _I64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
            "value": _money(rng, 0.01, 500.0, k),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )


TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
_TABLE_GEN = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
}


# --- stats_pipeline: the dirty CSV -------------------------------------

#: the name ``clean_data``'s sanitation gives a column -> its raw CSV header
CSV_HEADERS = {
    "l_quantity": "  L Quantity ",
    "extended_price": "Extended PRICE",
    "discount": " Discount",
    "tax": "TAX  ",
    "return_flag": "Return Flag",
    "line_status": "line STATUS ",
}
NUM_SENTINEL = -999
STR_SENTINEL = "NA"
#: share of each CSV column's cells replaced by its sentinel
NA_SHARE = 0.05


def dirty_csv(path: str, rows: int, seed: int) -> dict:
    """Lineitem-shaped CSV with messy headers, a pandas round-trip index
    column (``Unnamed: 0``, which ``read_delim`` drops), ``-999``
    sentinels in the numeric columns and ``"NA"`` in the two categoricals,
    each at seeded positions (``NA_SHARE`` of the cells per column)."""
    rng = np.random.default_rng([seed, 2])
    qty = rng.integers(1, 51, rows)
    disc = rng.integers(0, 11, rows) / 100.0
    tax = rng.integers(0, 9, rows) / 100.0
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, rows)]
    status = np.array(["F", "O"])[rng.integers(0, 2, rows)]
    # price depends on the regressors so the OLS fit has signal
    price = np.round(
        900.0 * qty * (1 - disc) * (1 + tax)
        + np.where(flag == "R", 1500.0, 0.0)
        + rng.normal(0, 2_000.0, rows),
        2,
    )
    cols = {"l_quantity": qty, "extended_price": price, "discount": disc, "tax": tax,
            "return_flag": flag, "line_status": status}
    table = {"Unnamed: 0": np.arange(rows)}
    for name, values in cols.items():
        sentinel = STR_SENTINEL if values.dtype.kind == "U" else NUM_SENTINEL
        table[CSV_HEADERS[name]] = np.where(rng.random(rows) < NA_SHARE, sentinel, values)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pacsv.write_csv(pa.table(table), path)
    return {"rows": rows, "bytes": os.path.getsize(path)}


# --- lakehouse_dml: the seeded MERGE batch ----------------------------


def merge_batch(seed: int, n_orders: int, merge_rows: int) -> dict:
    """The seeded MERGE batch (column arrays): half of it updates
    existing keys, half inserts new ones."""
    rng = np.random.default_rng([seed, 3])
    upd = rng.choice(n_orders, merge_rows // 2, replace=False)
    new = n_orders + np.arange(merge_rows - len(upd))
    keys = np.concatenate([upd, new])
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 1_000, len(keys)).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, len(keys))],
        "o_totalprice": rng.integers(1_000, 500_000, len(keys)).astype(np.float64),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, len(keys))],
    }


# --- llm_curation: documents, variants, embeddings, queries ----------


def documents(out_path: str, n_base: int, seed: int) -> dict:
    """``n_base`` random-vocabulary docs plus one variant per doc: about
    ``NEAR_DUP_SHARE`` of the variants drop one token (near-duplicates),
    the rest are fresh docs. Some texts carry emails/IPs for the PII scrub."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(VOCAB)

    def doc() -> list[str]:
        return list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])

    base = [doc() for _ in range(n_base)]
    variants, near = [], 0
    for words in base:
        if rng.random() < NEAR_DUP_SHARE:
            w = list(words)
            del w[int(rng.integers(0, len(w)))]
            variants.append(w)
            near += 1
        else:
            variants.append(doc())
    texts = [" ".join(w) for w in base + variants]
    for i in rng.choice(len(texts), len(texts) // 50, replace=False):
        texts[i] += f" mail user{i}@example.com from 10.0.{i % 250}.{i % 200}"
    n = len(texts)
    t = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    write_parquet(t, out_path)
    return {"docs": n, "near_dup_variants": near}


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def embeddings(out_path: str, n: int, seed: int) -> np.ndarray:
    """Unit vectors around ``EMB_CLUSTERS`` centers (``label`` = center)."""
    rng = np.random.default_rng([seed, 5])
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n)
    vec = _unit(centers[label] + rng.normal(scale=0.8, size=(n, EMB_DIM)))
    t = pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    write_parquet(t, out_path)
    return vec


def query_batch(out_path: str, corpus: np.ndarray, n: int, seed: int) -> None:
    """Seeded ANN queries: jittered corpus vectors, ids disjoint from the
    corpus so no query matches itself."""
    rng = np.random.default_rng([seed, 6])
    pick = rng.choice(len(corpus), n, replace=False)
    vec = _unit(corpus[pick] + rng.normal(scale=0.05, size=(n, EMB_DIM)))
    ids = 10_000_000 + np.arange(n)
    write_parquet(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            }
        ),
        out_path,
    )
