#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) into one class directory.

The program's own build (sbt) resolves through a user-level cache and
writes outside the checkout, so the benchmark compiles with the Scala
compiler that ships inside the Spark distribution instead; the classpath
is the same unmanaged Spark jar directory build.sbt uses. The output goes
to `$CARGO_TARGET_DIR` (default `.bench_build`) under the checkout root and
is reused while the sources hash the same.

Usage: python3 perfbench/build.py        (prints the class directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt names
    (`unmanagedBase := file("...")`)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/*.scala")))
    if not prog:
        raise SystemExit("perfbench: program sources src/main/scala not found")
    return prog + bench


def build():
    """Compile if the sources changed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return out
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = spark_jars()
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    return out


if __name__ == "__main__":
    print(build())
