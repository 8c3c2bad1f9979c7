"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source (perfbench/build.py),
generates the workload's inputs from the seed, runs the workload in one
JVM at local[<cores>], checks every output, and prints one JSON result as
the last line of standard output. Exits non-zero on a failed build or
run; a wrong output is reported as `"correct": false` with the failures
counted. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import build
import gen
import oracle

REPO = build.REPO

# generated inputs per workload: {subdirectory of the data directory:
# (tables, scale factor, first and last order date)}
ETL = (["lineitem", "orders"], 0.002, gen.dt.date(2020, 1, 1), gen.dt.date(2020, 4, 30))
INPUTS = {
    "etl_refresh": {"": ETL},
    "table_query_mix": {
        "table": (["lineitem"], 0.005, gen.dt.date(2020, 1, 1), gen.dt.date(2021, 12, 31)),
        "corpus": (gen.TABLES, 0.01, gen.DEFAULT_START, gen.DEFAULT_END),
    },
}
JVM_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TIMEOUT_S = 175


def java(classes, main, args, scratch, timeout):
    """Run `main` in a fresh JVM; its output goes to a log under `scratch`."""
    cp = f"{classes}:{build.spark_jars()}/*"
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
           + [x for o in JVM_OPENS for x in ("--add-opens", o)]
           + ["-cp", cp, main] + args)
    log = scratch / "jvm.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=scratch,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.stderr.write(log.read_text()[-6000:])
            sys.exit(f"perfbench: {main} timed out after {timeout:.0f} s")
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-6000:])
        sys.exit(f"perfbench: {main} exited with {r.returncode}")
    # the JVM's progress lines, for whoever reads stderr
    sys.stderr.writelines(l for l in log.read_text().splitlines(True) if l.startswith("[perfbench"))


def declared():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    unit = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return spec, unit


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(INPUTS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if not a.self_test and a.workload is None:
        p.error("--workload is required")

    classes = build.build()
    t0 = time.time()
    name = "self-test" if a.self_test else f"{a.workload}-{a.seed}-{a.trace}"
    scratch = REPO / ".bench_build" / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        data = scratch / "data"
        if a.self_test:
            tables, sf, start, end = ETL
            gen.generate(data, 7, sf, tables, start, end)
            java(classes, "perfbench.SelfTest", [str(data), str(scratch / "root")], scratch,
                 TIMEOUT_S)
            print("self-test passed")
            return
        for sub, (tables, sf, start, end) in INPUTS[a.workload].items():
            gen.generate(data / sub, a.seed, sf, tables, start, end)
        out = scratch / "result.json"
        # the origin of setup_s: input generation is not set-up
        launched_ms = int(time.time() * 1000)
        java(classes, "perfbench.Main",
             ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", str(data), "--root", str(scratch / "root"),
              "--out", str(out), "--launched-ms", str(launched_ms)],
             scratch, TIMEOUT_S - (time.time() - t0))
        res = json.loads(out.read_text())
        errors = list(res["errors"])
        if a.workload == "table_query_mix":
            errors += oracle.check(data / "corpus", scratch / "root" / "results")
        spec, unit = declared()
        metrics = res["metrics"]
        wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        missing = [m for m in wanted if m not in metrics]
        if missing:
            sys.exit(f"perfbench: run did not produce {missing}")
        # workload detail (per-op-type medians with sample counts, the
        # environment stamp) goes on its own line ahead of the result
        print(json.dumps({"detail": res["detail"], "errors": errors[:20]}, sort_keys=True))
        print(json.dumps({
            "correct": not errors,
            "attempted": res["attempted"],
            "failed": min(len(errors), res["attempted"]),
            "metrics": {m: {"value": metrics[m], "unit": unit[m]} for m in wanted},
        }))
        if errors:
            sys.stdout.flush()
            sys.exit(1)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
