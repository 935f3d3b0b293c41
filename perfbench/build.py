"""Build file of the benchmark: compiles the program and the benchmark's
JVM side from source.

The program (``src/main/scala`` of the checkout) and ``perfbench/scala``
are compiled with the Scala compiler that ships among Spark's jars, into
``.bench_build/classes/<hash>``, where the hash covers every source file
and the jar list.  A tree that is already built is reused, so only the
first run in a checkout pays for compilation.  The root build is not
involved.

Usage: python3 perfbench/build.py   (prints the class directories)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _sources(d):
    out = []
    for dirpath, _, files in os.walk(d):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(paths, extra):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for e in extra:
        h.update(e.encode())
    return h.hexdigest()[:16]


def source_hash():
    """Content hash of the program's main sources and resources."""
    res = [os.path.join(dp, f) for dp, _, fs in os.walk(MAIN_RES) for f in fs]
    return _digest(_sources(MAIN_SRC) + sorted(res), [])


def _scalac(jars, classpath, out, srcs, log):
    tool = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
            if j.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(tool),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", out, "@" + argfile]
    os.makedirs(out, exist_ok=True)
    with open(log, "a") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")


def build():
    """Return the classpath entries [bench, main, resources, jars/*],
    compiling first if needed."""
    if not os.path.isdir(MAIN_SRC):
        raise BuildError(f"no program sources at {os.path.relpath(MAIN_SRC, ROOT)}")
    jars = spark_jars()
    main_srcs, bench_srcs = _sources(MAIN_SRC), _sources(BENCH_SRC)
    key = _digest(main_srcs + bench_srcs, sorted(os.listdir(jars)))
    dest = os.path.join(BUILD_DIR, "classes", key)
    main_out, bench_out = os.path.join(dest, "main"), os.path.join(dest, "bench")
    jar_cp = os.path.join(jars, "*")
    if not os.path.exists(os.path.join(dest, "done")):
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        log = os.path.join(dest, "build.log")
        _scalac(jars, jar_cp, main_out, main_srcs, log)
        _scalac(jars, os.pathsep.join([main_out, jar_cp]), bench_out,
                bench_srcs, log)
        open(os.path.join(dest, "done"), "w").close()
        for old in os.listdir(os.path.dirname(dest)):
            if old != key:
                shutil.rmtree(os.path.join(BUILD_DIR, "classes", old),
                              ignore_errors=True)
    return [bench_out, main_out, MAIN_RES, jar_cp]


if __name__ == "__main__":
    try:
        print("\n".join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
