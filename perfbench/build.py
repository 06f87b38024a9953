"""Build file of the benchmark: compiles the engine's main sources and the
harness under perfbench/src into .bench_build/classes with the Scala
compiler that ships in the Spark distribution. A stamp of the sources
skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"build: engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def spark_jars():
    """The Spark distribution's jars, whose Scala compiler builds the
    benchmark: $SPARK_HOME/jars, else the `unmanagedBase` the repository's
    build.sbt compiles the engine against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: set SPARK_HOME to the Spark distribution")
    return Path(m.group(1))


def classpath():
    return str(spark_jars() / "*")


def build():
    """Compile if the sources changed; return the runtime classpath."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    stamp_file = BUILD / "classes.stamp"
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return f"{CLASSES}:{classpath()}"
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath()] + [str(f) for f in files]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp_file.write_text(stamp)
    return f"{CLASSES}:{classpath()}"


if __name__ == "__main__":
    print(build())
