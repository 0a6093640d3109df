"""Seeded input generators for the benchmark.

Every input the engine sees is generated here from the run's seed, so the
benchmark needs nothing outside the checkout:

- a TPC-H-shaped star (region, nation, customer, supplier, part, orders,
  lineitem) with the fixture schemas of ``FIXTURES.md`` section A;
- ``events`` and ``embeddings`` with the same schemas;
- the telco star schema through the package's own ``datagen.telco``
  generators, with seeds derived from the run seed.

Tables are written as single parquet files, the layout
``catalog.load_table`` reads and DuckDB scans for the oracle.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPE_A = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
TYPE_B = ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
TYPE_C = ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]
COLORS = ["almond", "blue", "coral", "green", "ivory", "khaki", "lemon", "navy", "plum", "rose"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts (stored as double, exactly like the fixtures)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """TPC-H-shaped star at scale ``sf`` (lineitem ≈ 6M·sf rows).

    Returns the row count per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord = (
        int(150_000 * sf), int(10_000 * sf), int(200_000 * sf), int(1_500_000 * sf)
    )
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(len(NATIONS)), pa.int32()),
            "n_name": [n for n, _ in NATIONS],
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    price = _money(rng, 900.0, 2100.0, n_part)
    c = np.array(COLORS)
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(c[rng.integers(0, 10, n_part)], " "), c[rng.integers(0, 10, n_part)]
            ),
            "p_brand": np.char.add("Brand#", rng.integers(11, 56, n_part).astype(str)),
            "p_type": np.char.add(
                np.char.add(
                    np.char.add(np.array(TYPE_A)[rng.integers(0, 6, n_part)], " "),
                    np.char.add(np.array(TYPE_B)[rng.integers(0, 5, n_part)], " "),
                ),
                np.array(TYPE_C)[rng.integers(0, 5, n_part)],
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": price,
        }
    )
    odate = EPOCH_1992 + rng.integers(0, 2400, n_ord) * np.timedelta64(1, "D")
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 450000.0, n_ord),
            "o_orderdate": odate.astype("datetime64[us]"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    l_order = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    l_line = (np.arange(n_li) - starts + 1).astype(np.int32)
    l_part = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": l_part,
            "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price[l_part - 1], 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def events_table(seed: int, n: int) -> pa.Table:
    """``events`` rows with ids 0..n-1 in time order."""
    rng = np.random.default_rng(seed)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(
        rng.integers(1, 60_000_000, n)
    ).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 2000, n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": _money(rng, 0.0, 500.0, n),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_embeddings(out_dir: str, seed: int, n: int) -> np.ndarray:
    """``embeddings`` (vec_id, embedding float32[64], label): vectors
    scattered around 16 seeded centres, so neighbourhoods are non-trivial.
    Returns the float32 matrix in vec_id order."""
    dim = 64  # the engine's embeddings schema
    rng = np.random.default_rng(seed)
    centres = rng.normal(size=(16, dim))
    label = rng.integers(0, 16, n)
    mat = (centres[label] + 0.6 * rng.normal(size=(n, dim))).astype(np.float32)
    os.makedirs(out_dir, exist_ok=True)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(mat.ravel(), dim).cast(
                    pa.list_(pa.float32())
                ),
                "label": label.astype(np.int32),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return mat


TELCO_TABLES = ("customers", "subscriptions", "usage_records", "recharges")
TELCO_IDS = {
    "customers": "customer_id",
    "subscriptions": "subscription_id",
    "usage_records": "usage_id",
    "recharges": "recharge_id",
}
# the reference's append mix (append_iceberg.py:182-184): rows per batch
TELCO_APPEND_ROWS = {"customers": 50, "subscriptions": 50, "usage_records": 1000, "recharges": 200}


def telco_initial(seed: int):
    """The reference's initial telco load as pandas frames (200 customers,
    6 plans, 200 subscriptions, 5000 usage records, 1000 recharges)."""
    from local_llm_iceberg_cdw_spark.datagen import telco

    customers = telco.generate_customers(200, seed=seed)
    subs = telco.generate_subscriptions(customers["customer_id"].tolist(), seed=seed + 1)
    return {
        "customers": customers,
        "plans": telco.generate_plans(),
        "subscriptions": subs,
        "usage_records": telco.generate_usage(
            customers["customer_id"].tolist(), 5000, seed=seed + 2
        ),
        "recharges": telco.generate_recharges(subs, 1000, seed=seed + 3),
    }


def telco_append_frames(seed: int, first_customer: int, n_customers: int, starts: dict[str, int]):
    """One append batch per telco table (reference mix), ids continuing
    from ``starts``; each frame is one CSV ingest."""
    from local_llm_iceberg_cdw_spark.datagen import telco

    customers = telco.generate_customers(
        n_customers, start_id=first_customer, seed=seed, back_days=30
    )
    cids = customers["customer_id"].tolist()
    subs = telco.generate_subscriptions(cids, start_id=starts["subscriptions"], seed=seed + 1)
    usage = telco.generate_usage(
        cids, TELCO_APPEND_ROWS["usage_records"], start_id=starts["usage_records"], seed=seed + 2
    )
    recharges = telco.generate_recharges(
        subs, TELCO_APPEND_ROWS["recharges"], start_id=starts["recharges"], seed=seed + 3
    )
    return {
        "customers": customers,
        "subscriptions": subs,
        "usage_records": usage,
        "recharges": recharges,
    }


def write_telco_parquet(out_dir: str, frames) -> None:
    """Telco frames as parquet with the ``TELCO_SCHEMAS`` widths: ints as
    int32, timestamps naive microseconds (Spark rejects nanos)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in frames.items():
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        fields = []
        for f in tbl.schema:
            t = f.type
            if pa.types.is_integer(t):
                t = pa.int32()
            elif pa.types.is_timestamp(t):
                t = pa.timestamp("us")
            fields.append(pa.field(f.name, t))
        _write(tbl.cast(pa.schema(fields)), os.path.join(out_dir, f"{name}.parquet"))
