#!/usr/bin/env python3
"""Local dev harness mirroring the driver's DuckDB-oracle correctness gate.

NOT part of the shipped library (the engine is pure Scala/Spark) — this
script only reproduces the driver's check loop so oracle SQL can be
validated before a round lands:

  1. run graft.Verify to dump each SparkEntry query to parquet,
  2. register every sfDir table by name in DuckDB,
  3. run each oracle SQL, compare against the Spark parquet:
     row count, column names/types, and sorted-row values.

Usage: python3 tools/check_oracles.py [sfDir] [outDir] [--run-verify] [name...]
"""
import json
import math
import os
import subprocess
import sys
from pathlib import Path

import duckdb

# the checkout this script sits in: --run-verify verifies this tree
REPO = Path(__file__).resolve().parent.parent
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else str(REPO / "target" / "verify_out")
# absolute, since sbt runs Verify from the checkout, not the caller's directory
SF_DIR, OUT_DIR = str(Path(SF_DIR).resolve()), str(Path(OUT_DIR).resolve())
FLAGS = set(a for a in sys.argv[3:] if a.startswith("--"))
ONLY = [a for a in sys.argv[3:] if not a.startswith("--")]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    # fresh output dir: a failed query must not silently compare against a
    # stale result from a previous run
    import shutil
    shutil.rmtree(OUT_DIR, ignore_errors=True)
    cmd = ["sbt", f'runMain graft.Verify {SF_DIR} {OUT_DIR}']
    # cores: the caller's SPARK_GRAFT_CPUS, else every core this process may use (nproc)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       env={**os.environ, "SPARK_GRAFT_CPUS": cpus})
    sys.stdout.write(r.stdout[-3000:])
    sys.stderr.write(r.stderr[-3000:])
    if r.returncode != 0:
        sys.exit(f"verify failed rc={r.returncode}")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def compare(name, con, sql):
    spark_dir = Path(OUT_DIR) / name
    if not spark_dir.exists():
        return f"FAIL {name}: no spark output"
    got = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'")
    want = con.sql(sql)
    gcols = list(zip(got.columns, [str(t) for t in got.types]))
    wcols = list(zip(want.columns, [str(t) for t in want.types]))
    # The driver's comparator is pandas-based: array/struct/map columns
    # crash its sort (`unhashable type: numpy.ndarray`) and DECIMAL
    # columns hash-mismatch (Decimal vs float64 rendering). This DuckDB
    # mirror is otherwise more permissive, so reject those shapes loudly
    # — an entry that needs them must reshape (posexplode / concat_ws /
    # CAST AS VARCHAR) before it can go green here.
    bad_types = sorted({(c, t) for c, t in gcols + wcols
                        if "[]" in t or t.startswith(("DECIMAL", "STRUCT", "MAP", "LIST"))})
    if bad_types:
        return (f"FAIL {name}: non-atomic/decimal graded column(s) {bad_types} — "
                "the driver's pandas comparator cannot sort/hash these; "
                "reshape to atomic string/numeric columns")
    msgs = []
    if sorted(c for c, _ in gcols) != sorted(c for c, _ in wcols):
        return (f"FAIL {name}: columns differ\n  spark={sorted(gcols)}\n"
                f"  oracle={sorted(wcols)}")
    if sorted(gcols) != sorted(wcols):
        msgs.append(f"WARN {name}: types differ spark={sorted(gcols)} oracle={sorted(wcols)}")
    cols = ", ".join(f'"{c}"' for c in sorted(got.columns))
    g = con.sql(f"SELECT {cols} FROM got ORDER BY ALL").fetchall()
    w = con.sql(f"SELECT {cols} FROM want ORDER BY ALL").fetchall()
    if len(g) != len(w):
        return f"FAIL {name}: rows spark={len(g)} oracle={len(w)}"
    bad = 0
    first = None
    for i, (rg, rw) in enumerate(zip(g, w)):
        if tuple(map(norm, rg)) != tuple(map(norm, rw)):
            bad += 1
            if first is None:
                first = (i, rg, rw)
    if bad:
        return (f"FAIL {name}: {bad}/{len(g)} rows differ; first at {first[0]}\n"
                f"  cols ={sorted(got.columns)}\n  spark={first[1]}\n  oracle={first[2]}"
                + ("\n" + "\n".join(msgs) if msgs else ""))
    note = (" | " + "; ".join(msgs)) if msgs else ""
    return f"OK   {name}: {len(g)} rows{note}"


def main():
    if "--run-verify" in FLAGS:
        run_verify()
    oracle = json.loads((Path(OUT_DIR) / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if Path(p).exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    names = ONLY or sorted(oracle)
    fails = 0
    for name in names:
        if name not in oracle:
            print(f"SKIP {name}: no oracle sql (rows-only check)")
            continue
        try:
            con.sql(f"SET TimeZone='UTC'")
            msg = compare(name, con, oracle[name])
        except Exception as e:
            msg = f"FAIL {name}: exception {str(e)[:500]}"
        if msg.startswith("FAIL"):
            fails += 1
        print(msg)
    spark_only = sorted(set(d.name for d in Path(OUT_DIR).iterdir() if d.is_dir())
                        - set(oracle))
    if spark_only:
        print("rows-only entries (no oracle):", ", ".join(spark_only))
    print(f"== {len(names) - fails}/{len(names)} green")
    sys.exit(1 if fails else 0)


main()
