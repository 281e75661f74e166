"""Build file of the benchmark: compiles graft's sources and the
benchmark's own Scala sources into one jar, perfbench.jar.

The compiler is the scala-compiler jar that ships with Spark, run
directly on the JVM (no sbt). Output goes under $CARGO_TARGET_DIR
(default: .bench_build at the checkout root), in a directory keyed by
a hash of every source, so a changed source rebuilds and an unchanged
checkout reuses the jar. Builds of other sources are kept, so a
checkout that switches between two commits compiles each once.

    python3 perfbench/build.py        # prints the jar's path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
MAIN_SCALA = ROOT / "src" / "main" / "scala"
MAIN_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SCALA = BENCH / "src"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars}")
    return jars


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR", str(ROOT / ".bench_build"))).resolve()


def sources():
    if not MAIN_SCALA.is_dir():
        raise SystemExit(f"perfbench: no program sources at {MAIN_SCALA}")
    scala = sorted(MAIN_SCALA.rglob("*.scala")) + sorted(BENCH_SCALA.rglob("*.scala"))
    resources = sorted(p for p in MAIN_RESOURCES.rglob("*") if p.is_file()) \
        if MAIN_RESOURCES.is_dir() else []
    return scala, resources


def build():
    """Compiles if needed; returns the jar."""
    jars = spark_jars()
    scala, resources = sources()
    h = hashlib.sha256(str(jars).encode())
    for p in scala + resources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    base = build_dir()
    out = base / f"classes-{h.hexdigest()[:16]}"
    jar = out / "perfbench.jar"
    if jar.exists():
        return jar
    base.mkdir(parents=True, exist_ok=True)
    tmp = base / f"classes-tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    argfile = base / f"scalac-{os.getpid()}.args"
    argfile.write_text("\n".join(f'"{p}"' for p in scala) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        argfile.unlink(missing_ok=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(tmp / jar.name, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, str(p.relative_to(classes)))
        for p in resources:
            z.write(p, str(p.relative_to(MAIN_RESOURCES)))
    shutil.rmtree(classes)
    try:
        tmp.rename(out)
    except OSError:
        # another process built the same sources first
        shutil.rmtree(tmp, ignore_errors=True)
        if not jar.exists():
            raise
    return jar


if __name__ == "__main__":
    print(build())
