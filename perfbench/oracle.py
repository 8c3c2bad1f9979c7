"""DuckDB oracle check for the queries of `table_query_mix`.

Each query's Spark result (one parquet directory per entry) is compared
with its `SparkEntry.oracleSql` run in DuckDB over the same generated
tables: the same column names, the same row count, and the same rows
once both sides are sorted, with doubles equal to a relative 1e-9 (the
two engines may add the same values in a different order).
"""
import json
import math
from pathlib import Path

import duckdb

import gen


def _same(x, y):
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
    return x == y


def compare(con, name, got_dir, sql):
    got = con.sql(f"SELECT * FROM '{got_dir}/*.parquet'")
    want = con.sql(sql)
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    cols = ", ".join(f'"{c}"' for c in sorted(got.columns))
    g = con.sql(f"SELECT {cols} FROM got ORDER BY ALL").fetchall()
    w = con.sql(f"SELECT {cols} FROM want ORDER BY ALL").fetchall()
    if len(g) != len(w):
        return f"{name}: {len(g)} rows, oracle {len(w)}"
    bad = [i for i, (rg, rw) in enumerate(zip(g, w))
           if not all(_same(x, y) for x, y in zip(rg, rw))]
    if bad:
        return f"{name}: {len(bad)}/{len(g)} rows differ, first {g[bad[0]]} vs {w[bad[0]]}"
    return None


def check(data, results):
    """Error strings, one per entry whose result disagrees with its oracle."""
    sqls = json.loads((Path(results) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    for t in gen.TABLES:
        p = Path(data) / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    errors = []
    for name, sql in sorted(sqls.items()):
        d = Path(results) / name
        if not d.exists():
            errors.append(f"{name}: no result")
            continue
        try:
            e = compare(con, name, d, sql)
        except Exception as ex:  # an oracle that cannot run is a failed check
            e = f"{name}: {str(ex)[:300]}"
        if e:
            errors.append(e)
    return errors
