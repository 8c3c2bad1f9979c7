"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) using the Scala compiler that ships in
Spark's jar directory, and copies the engine's resources beside the
classes. Output goes to `.bench_build/<fingerprint>/classes`, keyed by a
hash of every source, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
BENCH = REPO / "perfbench"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars bundled
    with the pyspark package."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import pyspark
        cands.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in cands:
        if list(c.glob("scala-compiler-*.jar")):
            return c
    sys.exit("perfbench: no Spark jar directory with a Scala compiler found; set SPARK_HOME")


def sources():
    engine = REPO / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"perfbench: engine sources not found at {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build():
    srcs = sources()
    resources = REPO / "src" / "main" / "resources"
    h = hashlib.sha256()
    for f in srcs + sorted(p for p in resources.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    out = REPO / ".bench_build" / h.hexdigest()[:16]
    classes = out / "classes"
    if (out / "done").exists():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    cp = f"{jars}/*"
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("perfbench: compile failed")
    if resources.is_dir():
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    (out / "done").write_text("ok\n")
    return classes


if __name__ == "__main__":
    print(build())
