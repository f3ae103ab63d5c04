#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the benchmark harness (perfbench/scala) into one class directory.

The build is keyed on a hash of every file under src/main and of the
benchmark's own sources, so two source states never share a build, and a
second run on the same state reuses it. It calls the Scala compiler that
ships with the Spark distribution directly (no sbt start-up, no network),
against the same Spark jars the sbt build uses.

Usage: python3 perfbench/build.py   (from the repository root; prints the
class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPARK_JARS = Path(os.environ.get("SPARK_JARS", "/opt/spark/jars"))
# the JVM options sbt's `run` passes (build.sbt: jdk17AddOpens + javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_options(heap):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                   f"-Xmx{heap}", f"-Xms{heap}", "-XX:+AlwaysPreTouch"]


def build_root(root):
    return Path(root) / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources(root):
    main = sorted((Path(root) / "src" / "main").rglob("*.scala"))
    bench = sorted((BENCH / "scala").glob("*.scala"))
    return main, bench


def source_hash(root):
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(Path(root).resolve()) if f.is_absolute() else f).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
        h.update(b"\0")
    return h.hexdigest()[:16]


def build(root="."):
    """Return the class directory for the current sources, compiling if needed."""
    root = Path(root).resolve()
    main, bench = sources(root)
    if not main:
        raise SystemExit(f"no Scala sources under {root}/src/main: nothing to benchmark")
    out = build_root(root) / f"classes-{source_hash(root)}"
    if (out / "OK").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = [SPARK_JARS / f"scala-{n}-2.13.17.jar" for n in ("compiler", "library", "reflect")]
    args = (["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, jars)),
             "scala.tools.nsc.Main", "-nowarn", "-classpath", str(SPARK_JARS / "*"),
             "-d", str(tmp)] + [str(f) for f in main + bench])
    r = subprocess.run(args, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build failed")
    (tmp / "OK").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def classpath(classes):
    return os.pathsep.join([str(classes), str(SPARK_JARS / "*")])


if __name__ == "__main__":
    print(build())
