"""Build file of the benchmark harness.

Compiles graft's sources (`src/main/scala`) together with the harness
(`perfbench/harness`) using the Scala compiler that ships in Spark's jars
directory (`$SPARK_HOME/jars`, the same jars `build.sbt` compiles
against), into `perfbench/.build/<source digest>/classes`.  A build whose
digest matches the sources is reused, so only the first run in a checkout
compiles.

    python3 perfbench/build.py      # build (or reuse) and print the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spark_jars():
    """`$SPARK_HOME/jars/*`, or the jars of the Spark whose `spark-submit`
    is on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: set SPARK_HOME to a Spark install with a jars/ directory")
    return str(Path(home) / "jars" / "*")


def sources():
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise SystemExit(f"perfbench: no graft sources under {ROOT / 'src/main/scala'}")
    return graft + sorted((HERE / "harness").glob("*.scala"))


def build():
    """Return the classes directory for the current sources, compiling
    them first unless an identical build exists."""
    srcs = sources()
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    base = HERE / ".build"
    out = base / h.hexdigest()[:16]
    classes = out / "classes"
    if (out / "done").exists():
        return classes
    shutil.rmtree(base, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", jars] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-5000:])
        raise SystemExit("perfbench: compiling graft and the harness failed")
    (out / "done").touch()
    return classes


if __name__ == "__main__":
    print(build())
