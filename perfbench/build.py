#!/usr/bin/env python3
"""Builds the engine and the benchmark from source with the Scala
compiler that ships among the Spark jars.

Usage: python3 perfbench/build.py   (from the root of a checkout)

Outputs go to $CARGO_TARGET_DIR (default .bench_build): classes/engine
from src/main/scala, classes/bench from perfbench/src. Each part is
rebuilt only when the hash of its sources changes. Prints the runtime
classpath as the last line.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
ENGINE_RES = "src/main/resources"
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")


def spark_jars() -> str:
    """The Spark jar directory the engine's own build uses (its
    `unmanagedBase` in build.sbt)."""
    with open("build.sbt") as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase Spark jar directory")
    return m.group(1)


def build_dir() -> str:
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources(root: str, ext: str = ".scala") -> list:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def digest(paths: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_part(name: str, srcs: list, classpath: str, stamp_extra: str, jars: str) -> tuple:
    out = os.path.join(build_dir(), "classes", name)
    stamp_file = out + ".stamp"
    stamp = digest(srcs, stamp_extra)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, stamp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(build_dir(), f"{name}.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, f"@{args_file}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"build of {name} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out, stamp


def engine_stamp() -> str:
    """Hash of the engine sources the benchmark runs against."""
    return digest(sources(ENGINE_SRC) + sources(ENGINE_RES, ""))


def build() -> str:
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists("build.sbt"):
        raise SystemExit(f"no engine sources under {ENGINE_SRC}: run from the root of a checkout")
    jars = spark_jars()
    if not glob.glob(f"{jars}/spark-sql_*.jar"):
        raise SystemExit(f"no Spark jars in {jars}")
    spark_cp = f"{jars}/*"
    engine, stamp = compile_part("engine", sources(ENGINE_SRC), spark_cp, "", jars)
    bench, _ = compile_part("bench", sources(BENCH_SRC), f"{engine}:{spark_cp}", stamp, jars)
    return ":".join([bench, engine, os.path.abspath(ENGINE_RES), spark_cp])


if __name__ == "__main__":
    print(build())
