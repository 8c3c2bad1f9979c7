"""Seeded generator for the benchmark's input corpus.

Writes the TPC-H-ish star schema plus the events / documents /
embeddings tables the engine's entries read (one parquet file per table,
named `<table>.parquet`), with the same column names, types and value
domains as the repository's test corpus. The same seed always gives the
same files; a different seed gives different rows from the same
distributions.

Sizes follow a scale factor `sf`: lineitem = 6M * sf rows, orders =
1.5M * sf, and so on.
"""
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ROW_COUNTS = {  # rows at sf = 1
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 50_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()

DEFAULT_START = dt.date(1995, 1, 1)
DEFAULT_END = dt.date(2001, 8, 1)


def _n(table, sf):
    return max(1, int(round(ROW_COUNTS[table] * sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (end - start).days
    base = np.datetime64(start, "D")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _ts(days):
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), Path(out) / f"{name}.parquet")


def generate(out, seed, sf, tables, start=DEFAULT_START, end=DEFAULT_END):
    """Write `tables` into directory `out`. Order and ship dates fall in
    [start, end], independently of each other as in the test corpus."""
    Path(out).mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = (_n(t, sf) for t in
                                     ("customer", "supplier", "part", "orders"))
    for t in tables:
        # one child stream per table: a table's rows do not depend on
        # which other tables were asked for
        r = np.random.default_rng([seed, TABLES.index(t)])
        if t == "region":
            _write(out, t, {"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
        elif t == "nation":
            _write(out, t, {"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
        elif t == "customer":
            n = n_cust
            _write(out, t, {
                "c_custkey": np.arange(n, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
                "c_acctbal": _money(r, -999.99, 9999.99, n),
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})
        elif t == "supplier":
            n = n_supp
            _write(out, t, {
                "s_suppkey": np.arange(n, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
                "s_acctbal": _money(r, -999.99, 9999.99, n)})
        elif t == "part":
            n = n_part
            keys = np.arange(n, dtype=np.int64)
            _write(out, t, {
                "p_partkey": keys,
                "p_name": np.char.add(np.char.add(np.array(P_ADJ)[r.integers(0, 8, n)], " "),
                                      np.array(P_NOUN)[r.integers(0, 8, n)]),
                "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
                "p_type": np.array(P_TYPES)[r.integers(0, 6, n)],
                "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
                "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
        elif t == "orders":
            n = n_ord
            _write(out, t, {
                "o_orderkey": np.arange(n, dtype=np.int64),
                "o_custkey": r.integers(0, n_cust, n).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
                "o_totalprice": _money(r, 1000.0, 500000.0, n),
                "o_orderdate": _ts(_days(r, start, end, n)),
                "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]})
        elif t == "lineitem":
            n = _n(t, sf)
            ship = _days(r, start, end, n)
            _write(out, t, {
                "l_orderkey": r.integers(0, n_ord, n).astype(np.int64),
                "l_partkey": r.integers(0, n_part, n).astype(np.int64),
                "l_suppkey": r.integers(0, n_supp, n).astype(np.int64),
                "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
                "l_quantity": r.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(r, 900.0, 105000.0, n),
                "l_discount": r.integers(0, 11, n) / 100.0,
                "l_tax": r.integers(0, 9, n) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
                "l_shipdate": _ts(ship)})
        elif t == "events":
            n = _n(t, sf)
            gaps = r.exponential(30 * 86400 / n, n)
            us = (np.cumsum(gaps) * 1e6).astype(np.int64)
            ts = np.datetime64("2024-01-01T00:00:00", "us") + us.astype("timedelta64[us]")
            _write(out, t, {
                "event_id": np.arange(n, dtype=np.int64),
                # TIMESTAMP(NANOS), as in the test corpus
                "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
                "user_id": r.integers(0, 150, n).astype(np.int64),
                "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
                "value": _money(r, 0.01, 50.0, n) * np.where(r.random(n) < 0.02, 10, 1),
                "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]})
        elif t == "documents":
            n = _n(t, sf)
            words = np.array(WORDS)
            texts = [" ".join(words[r.integers(0, len(WORDS), int(k))])
                     for k in r.integers(10, 100, n)]
            # ~5% near-duplicates: a copy of an earlier document plus a marker
            for i in range(1, n):
                if r.random() < 0.05:
                    texts[i] = texts[int(r.integers(0, i))] + " dup"
            _write(out, t, {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(n)],
                "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
        elif t == "embeddings":
            n = _n(t, sf)
            labels = r.integers(0, 10, n)
            centers = r.normal(0, 1, (10, 64))
            v = centers[labels] * 0.5 + r.normal(0, 1, (n, 64))
            v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
            _write(out, t, {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": pa.array(list(v), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32())})
        else:
            raise ValueError(f"unknown table {t}")
