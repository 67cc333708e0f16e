"""Build file of the benchmark: compiles graft's sources (src/main/scala) and
the benchmark's own (perfbench/src) with the Scala compiler that ships in
Spark's jars directory, into .bench_build/perfbench/classes. A stamp of the
source contents skips the compile when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SOURCES = [Path("src/main/scala"), Path("perfbench/src")]
WORK = Path(".bench_build/perfbench")
CLASSES = WORK / "classes"
STAMP = WORK / "classes.stamp"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars beside the spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(str(Path(submit).resolve().parent.parent))
    for home in filter(None, homes):
        if (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jars directory (set SPARK_HOME)")


def scala_files() -> list:
    files = []
    for root in SOURCES:
        if not root.is_dir():
            raise SystemExit(f"perfbench: {root} is missing; run from a graft checkout")
        files += sorted(str(p) for p in root.rglob("*.scala"))
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if the sources changed; return the classes directory."""
    files = scala_files()
    digest = stamp(files)
    if STAMP.is_file() and STAMP.read_text() == digest:
        return CLASSES
    jars = spark_jars()
    compiler = [jars / f"scala-{n}-2.13.17.jar" for n in ("compiler", "library", "reflect")]
    if not all(p.is_file() for p in compiler):
        compiler = sorted(jars.glob("scala-*.jar"))
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(CLASSES)] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    STAMP.write_text(digest)
    return CLASSES


if __name__ == "__main__":
    build()
