#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft library (src/main/scala)
and the benchmark program (sketchbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/ at the checkout root.

A content stamp over every source file makes a second call a no-op.

    python3 sketchbench/build.py        # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("sketchbench", "src")
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


def spark_jars():
    """The Spark 4.1 jar directory: $SPARK_HOME/jars, else the one next to
    `spark-submit` on PATH, else the jars of an installed pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            cands.append(os.path.join(os.path.dirname(spec.origin), "jars"))
    except Exception:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_2.13-*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return os.path.abspath(c)
    raise SystemExit("build: no Spark 4.1 jar directory found (set SPARK_HOME)")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, srcs, out):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", *SCALAC_OPTS,
           "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed for {out}")


def ensure_built():
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise SystemExit(f"build: {LIB_SRC}/graft not found; run from the repository root")
    jars = spark_jars()
    lib, bench = sources(LIB_SRC), sources(BENCH_SRC)
    want = stamp(lib + bench)
    classes = os.path.abspath(os.path.join(BUILD_DIR, "classes"))
    lib_out, bench_out = os.path.join(classes, "lib"), os.path.join(classes, "bench")
    stamp_file = os.path.join(classes, "STAMP")
    have = open(stamp_file).read().strip() if os.path.exists(stamp_file) else ""
    if have != want:
        os.makedirs(classes, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        jar_cp = os.path.join(jars, "*")
        scalac(jars, jar_cp, lib, lib_out)
        scalac(jars, jar_cp + os.pathsep + lib_out, bench, bench_out)
        with open(stamp_file, "w") as fh:
            fh.write(want)
    return os.pathsep.join([bench_out, lib_out, os.path.join(jars, "*")])


if __name__ == "__main__":
    print(ensure_built())
