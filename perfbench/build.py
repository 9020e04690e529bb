"""Build file of the benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) using the Scala compiler that ships with the
Spark distribution (the jars directory of $SPARK_HOME, or of the Spark whose
spark-submit is on PATH). Classes go to .bench_build/perfbench/classes under
the checkout root; a stamp of every source's content skips the compile when
nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found at {engine.relative_to(ROOT)}")
    own = Path(__file__).resolve().parent / "src"
    return sorted(engine.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    return h.hexdigest()


def build():
    """Returns (classes dir, Spark jars dir, source stamp)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes, jars, want
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print("[perfbench] compiling", len(files), "sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes, jars, want


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
