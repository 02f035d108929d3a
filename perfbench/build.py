"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark program (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, so no sbt, network or ivy cache is needed.

    python3 perfbench/build.py            # from the root of a checkout

Classes land in perfbench/.build/{engine,bench}; each half is rebuilt only
when the hash of its sources changes. Exits non-zero when a source tree is
missing or the compiler fails.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME to a Spark 4 distribution")
    jars = os.path.join(home, "jars")
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise SystemExit(f"build: no Spark 4 / Scala 2.13 jars under {jars}")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, stamp):
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(BUILD, name + ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"build: compiling {name} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def build():
    """Compiles what changed; returns (classpath, whether anything was built)."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine or not bench:
        raise SystemExit("build: engine or benchmark sources are missing")
    os.makedirs(BUILD, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    engine_stamp = digest(engine, jars)
    built = compile_tree("engine", engine, jars, engine_stamp)
    engine_cls = os.path.join(BUILD, "engine")
    built |= compile_tree("bench", bench, engine_cls + os.pathsep + jars,
                          digest(bench, engine_stamp))
    return os.pathsep.join([os.path.join(BUILD, "bench"), engine_cls, jars]), built


if __name__ == "__main__":
    cp, built = build()
    print(("built " if built else "up to date ") + cp)
