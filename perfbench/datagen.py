"""Seeded input generator for the benchmark.

Writes the ten catalog tables (``datawarehouse_code_spark.sources.schemas``)
as one parquet file each, with the same column types and value domains as
the repository's TPC-H-ish fixtures, so every registry query runs on them
unchanged.  The same ``(seed, sf)`` always yields the same tables.

Row counts follow TPC-H scaling (lineitem = 6M x sf, orders = 1.5M x sf,
...).  Lineitem rows are unique on ``(l_orderkey, l_linenumber)`` so the
warehouse's fact id (a hash of the business identity) is unique per row and
incremental-load deltas can be predicted exactly.  A few percent of the
documents are planted near-copies of earlier ones (one or two word edits),
so the dedup operators and the ingest gate have real work to find.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # through 2001-08-01
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 24 * 3600 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(100, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every catalog table as an Arrow table, from ``seed`` alone."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    retail = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.array(names)[rng.integers(0, len(names), npart)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": retail,
    })
    no = n["orders"]
    order_day = rng.integers(0, ORDER_DAYS + 1, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, no), 2),
        "o_orderdate": ORDER_DAY0 + order_day.astype("timedelta64[D]"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    # lines per order ~ Poisson(4) capped at 7, as when lineitems pick their
    # order uniformly: ~2 % of orders have none (the anti-join queries need
    # them); numbered 1..k within the order
    lines = np.minimum(rng.poisson(4.0, no), 7)
    l_order = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = np.arange(len(l_order)) - starts + 1
    nl = len(l_order)
    l_part = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship_day = rng.integers(1, ORDER_DAYS + 1, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(l_line, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.5, 2.0, nl), 2),
        "l_discount": rng.uniform(0.0, 0.1, nl),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": ORDER_DAY0 + ship_day.astype("timedelta64[D]"),
    })
    ne = n["events"]
    n_users = max(100, nc // 10)
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": EVENT_T0 + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.06:
            # planted near-copy of an earlier doc: one or two word edits
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                pos = int(rng.integers(0, len(words)))
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, nd)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, nv: int, dim: int = 64) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, nv)
    vecs = centroids[label] + rng.normal(0.0, 1.5, (nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the catalog's layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def hold_out_orders(
    tables: dict[str, pa.Table], seed: int, frac: float = 0.1
) -> tuple[dict[str, pa.Table], np.ndarray]:
    """The "previous load": ``tables`` minus a seeded ``frac`` of orders and
    their lineitems.  Returns the snapshot and the held-out order keys."""
    rng = np.random.default_rng([seed, 1])
    keys = tables["orders"]["o_orderkey"].to_numpy()
    held = np.sort(rng.choice(keys, size=max(1, int(len(keys) * frac)), replace=False))
    prev = dict(tables)
    prev["orders"] = tables["orders"].filter(~np.isin(keys, held))
    li = tables["lineitem"]
    prev["lineitem"] = li.filter(~np.isin(li["l_orderkey"].to_numpy(), held))
    return prev, held


def expected_full(tables: dict[str, pa.Table]) -> dict[str, int]:
    """Rows a full build of the warehouse from ``tables`` must hold per
    table (computed without Spark): every lineitem has its order and
    customer, so the fact and the cube keep them all."""
    days = np.unique(tables["orders"]["o_orderdate"].to_numpy().astype("datetime64[D]"))
    n_li = tables["lineitem"].num_rows
    return {
        "dim_client": tables["customer"].num_rows,
        "dim_product": tables["part"].num_rows,
        "dim_product_subcategory": len(set(tables["part"]["p_type"].to_pylist())),
        "dim_country": tables["nation"].num_rows,
        "dim_country_subregion": tables["nation"].num_rows,
        "dim_date": len(days),
        "dim_date_month": 12,
        "dim_date_year": len(np.unique(days.astype("datetime64[Y]"))),
        "fact": n_li,
        "cube": n_li,
    }


def expected_delta(tables: dict[str, pa.Table], held: np.ndarray) -> dict[str, int]:
    """Rows an incremental load of the full tables over the previous load
    must insert per warehouse table (computed without Spark)."""
    orders = tables["orders"]
    keys = orders["o_orderkey"].to_numpy()
    days = orders["o_orderdate"].to_numpy().astype("datetime64[D]")
    is_held = np.isin(keys, held)
    new_days = np.setdiff1d(days[is_held], days[~is_held])
    years = days.astype("datetime64[Y]")
    new_years = np.setdiff1d(years[is_held], years[~is_held])
    n_fact = int(np.isin(tables["lineitem"]["l_orderkey"].to_numpy(), held).sum())
    out = dict.fromkeys(
        ["dim_client", "dim_product", "dim_product_subcategory", "dim_country",
         "dim_country_subregion", "dim_date_month"], 0)
    out.update(dim_date=len(new_days), dim_date_year=len(new_years),
               fact=n_fact, cube=n_fact)
    return out

