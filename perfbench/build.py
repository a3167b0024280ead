"""Build file of the benchmark: compiles the library (src/main/scala) and the
benchmark's own Scala sources (perfbench/scala) into one class directory.

The compiler is the Scala 2.13 compiler jar that ships with Spark, so no build
tool or dependency resolution is involved. Outputs go under $CARGO_TARGET_DIR
(default `.bench_build`) in the checkout. A content hash of every source makes
the build incremental at whole-tree granularity: an unchanged tree is not
rebuilt.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        jars = sorted(glob.glob(os.path.join(c, "*.jar")))
        if jars:
            return jars
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"perfbench: library sources missing ({LIB_SRC})")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(base):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if the sources changed; return the runtime classpath list."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [out] + jars
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("-nowarn\n-d\n%s\n-classpath\n%s\n" % (out, os.pathsep.join(jars)))
        fh.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "@" + argfile])
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return [out] + jars


if __name__ == "__main__":
    build()
