"""Build step of the benchmark: compiles the graft library from the checkout's
`src/main` and the benchmark's own Scala sources with the Scala compiler that
ships in Spark's jar directory. No sbt, no network, and every output lands in
`.bench_build/perfbench/` inside the checkout.

A build is skipped when a stamp holding the hash of every input file matches,
so only the first run in a checkout pays for it.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")
LIB_CLASSES = os.path.join(OUT, "lib-classes")
BENCH_CLASSES = os.path.join(OUT, "bench-classes")


class BuildError(RuntimeError):
    pass


def spark_jars_dir():
    """Spark's jar directory: $SPARK_HOME/jars, else next to `spark-submit`."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def spark_classpath():
    jars = spark_jars_dir()
    return [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]


def _files(root, suffix):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(sources, out_dir, classpath):
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx1g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out_dir, "-classpath", cp] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"scalac failed for {out_dir}")


def _stage(name, inputs, build):
    stamp = os.path.join(OUT, name + ".stamp")
    digest = _digest(inputs)
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return False
        os.remove(stamp)
    build()
    with open(stamp, "w") as f:
        f.write(digest)
    return True


def build():
    """Compile what changed; returns the runtime classpath entries."""
    lib_sources = _files(LIB_SRC, ".scala")
    if not lib_sources:
        raise BuildError(f"no library sources under {os.path.relpath(LIB_SRC, ROOT)}")
    bench_sources = _files(BENCH_SRC, ".scala")
    spark_cp = spark_classpath()
    os.makedirs(OUT, exist_ok=True)

    def build_lib():
        _scalac(lib_sources, LIB_CLASSES, spark_cp)
        if os.path.isdir(LIB_RES):
            shutil.copytree(LIB_RES, LIB_CLASSES, dirs_exist_ok=True)

    lib_res = _files(LIB_RES, "") if os.path.isdir(LIB_RES) else []
    rebuilt = _stage("lib", lib_sources + lib_res, build_lib)
    if rebuilt and os.path.exists(os.path.join(OUT, "bench.stamp")):
        os.remove(os.path.join(OUT, "bench.stamp"))
    _stage("bench", bench_sources,
           lambda: _scalac(bench_sources, BENCH_CLASSES, spark_cp + [LIB_CLASSES]))
    return [BENCH_CLASSES, LIB_CLASSES] + spark_cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print("build ok")
