#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the
benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, or that of the
spark-submit on PATH). No sbt, no dependency resolution: the engine
needs only the Spark jars. Classes go to .bench_build/perfbench/<digest>,
where <digest> hashes every source file and the jar list, so an
unchanged tree is compiled once.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the Spark whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars}; set SPARK_HOME")
    return jars


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    return files


def classpath(jars):
    return os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))


def build():
    """Compile if needed and return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / "perfbench" / h.hexdigest()[:16]
    if (out / "BUILD_OK").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath(jars), "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    (tmp / "BUILD_OK").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
