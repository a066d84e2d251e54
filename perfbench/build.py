"""Build the engine and the benchmark from source with the Scala compiler
that ships with Spark, into .bench_build/ at the checkout root.

The output directory is named after a hash of every source file, so a
checkout builds once and later runs reuse the classes; any source change
gives a fresh build. Run directly to build only:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars: the Spark distribution's jars, scalac among them."""
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not os.environ.get("SPARK_HOME") or not any(jars.glob("spark-core_*.jar")):
        raise BuildError("set SPARK_HOME to a Spark distribution with its jars/ directory")
    return jars


def sources():
    missing = [str(d.relative_to(ROOT)) for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise BuildError("missing source directories: " + ", ".join(missing))
    files = sorted(f for d in SOURCE_DIRS for f in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build():
    """Return the classes directory, compiling if this source set is new."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if out.is_dir():
        return out
    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(spark_jars().glob("*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    try:
        tmp.rename(out)
    except OSError:
        # another run built the same sources first; use its classes
        shutil.rmtree(tmp, ignore_errors=True)
        if not out.is_dir():
            raise
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
