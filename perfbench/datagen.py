"""Deterministic TPC-H-shaped tables for the benchmark server.

The column set and types follow the repository's sf-scaled test tables
(``region nation customer supplier part orders lineitem documents``), so
the registered TPC-H oracle SQL and the pipeline TVFs run unchanged.
Row counts follow TPC-H at the chosen scale factor (sf0.01 gives 15,000
orders and about 60,000 line items).

The table contents depend only on ``DATA_SEED`` and the scale factor, never
on a run's ``--seed``: every run of every seed serves the same tables, and
the run seed picks the keys, the statement mix and the COPY payload.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260101
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
           ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
           ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
           ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
           ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
           ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
           ("UNITED KINGDOM", 3), ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["almond", "azure", "black", "blue", "coral", "gear", "green",
          "ivory", "lace", "navy", "olive", "plum", "red", "rose", "tan"]
TYPES = ["STANDARD ANODIZED TIN", "SMALL PLATED COPPER", "LARGE BRUSHED STEEL",
         "ECONOMY POLISHED BRASS", "PROMO BURNISHED NICKEL"]
WORDS = ["spark", "query", "table", "hash", "join", "scan", "filter", "sort",
         "merge", "group", "stream", "batch", "column", "value", "key",
         "order", "plan", "stage", "task", "shuffle", "cache", "page"]
LANGS = ["en", "de", "fr", "es"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = 694_224_000 * 1_000_000      # 1992-01-01 in unix us
_ORDER_DAYS = 2_405                        # through 1998-08-02
_CUTOFF_1995_06_17 = 803_347_200 * 1_000_000


def _write(path: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def generate(path: str, sf: float = 0.01) -> None:
    """Write every table under ``path`` (created fresh)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    os.makedirs(path, exist_ok=True)

    _write(path, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(path, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})

    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(path, "customer", {
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[
            rng.integers(0, 5, n_cust)].tolist())})

    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    _write(path, "supplier", {
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})

    pk = np.arange(1, n_part + 1, dtype=np.int64)
    c1 = rng.integers(0, len(COLORS), n_part)
    c2 = rng.integers(0, len(COLORS), n_part)
    _write(path, "part", {
        "p_partkey": pk,
        "p_name": pa.array([f"{COLORS[a]} {COLORS[b]}"
                            for a, b in zip(c1, c2)]),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))]),
        "p_type": pa.array(np.array(TYPES)[
            rng.integers(0, len(TYPES), n_part)].tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1 + pk / 1000, 2)})

    ok = np.arange(1, n_orders + 1, dtype=np.int64) * 4 - 3
    odate = _EPOCH_1992 + rng.integers(0, _ORDER_DAYS, n_orders) * _DAY_US
    n_lines = rng.integers(1, 8, n_orders)
    l_ok = np.repeat(ok, n_lines)
    l_odate = np.repeat(odate, n_lines)
    n_li = len(l_ok)
    starts = np.cumsum(n_lines) - n_lines
    l_num = (np.arange(n_li) - np.repeat(starts, n_lines) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    l_pk = rng.integers(1, n_part + 1, n_li)
    price = np.round(qty * (900 + (l_pk % 1000) * 0.1 + l_pk / 1000), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = l_odate + rng.integers(1, 122, n_li) * _DAY_US
    shipped = ship <= _CUTOFF_1995_06_17
    rflag = np.where(shipped, np.where(rng.random(n_li) < 0.5, "R", "A"),
                     "N")
    _write(path, "lineitem", {
        "l_orderkey": l_ok,
        "l_partkey": l_pk.astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": pa.array(rflag.tolist()),
        "l_linestatus": pa.array(np.where(shipped, "F", "O").tolist()),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})

    # o_totalprice is the sum of the order's charged line prices
    charge = price * (1 + tax) * (1 - disc)
    total = np.round(np.add.reduceat(charge, starts), 2)
    all_f = np.logical_and.reduceat(shipped, starts)
    any_f = np.logical_or.reduceat(shipped, starts)
    _write(path, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_orders).astype(np.int64),
        "o_orderstatus": pa.array(
            np.where(all_f, "F", np.where(any_f, "P", "O")).tolist()),
        "o_totalprice": total,
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n_orders)].tolist())})

    n_docs = max(int(50_000 * sf), 50)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            # an exact duplicate up to case and whitespace
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper().replace(" ", "   ") + " ")
        else:
            words = np.array(WORDS)[rng.integers(0, len(WORDS),
                                                 int(rng.integers(8, 40)))]
            texts.append(" ".join(words.tolist()))
    _write(path, "documents", {
        "doc_id": np.arange(1, n_docs + 1, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[
            rng.integers(0, len(LANGS), n_docs)].tolist()),
        "source": pa.array([f"src{int(s)}" for s in
                            rng.integers(0, 20, n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def ensure(root: str, sf: float = 0.01) -> str:
    """Generate the tables once under ``root``; later runs reuse them."""
    path = os.path.join(root, f"sf{sf:g}-{DATA_SEED}")
    marker = path + ".complete"
    if os.path.exists(marker):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(tmp, sf)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    with open(marker, "w") as f:
        f.write("ok\n")
    return path
