"""Build file of the benchmark: compiles the engine (`src/main/scala` with its
resources) and the benchmark runner (`perfbench/scala`) with the Scala
compiler that ships in the Spark installation's jars, packs the classes into
one jar, and records a class-data-sharing archive from a short training run
so that every measured JVM starts from the same pre-parsed classes. The build
lives in `.bench_build/<hash of every input file>/`, so an unchanged tree is
not rebuilt.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, or the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit("perfbench: no Spark installation with a Scala compiler "
                         "(set SPARK_HOME)")
    return jars


def _sources(d, ext):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def _compile(srcs, res, out, jars):
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    # run from the build directory: the compiler's default classpath is ".",
    # and perfbench/scala there would shadow the `scala` package
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=out)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    jar = os.path.join(out, "perfbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
        for f in res:
            z.write(f, os.path.relpath(f, ENGINE_RES))
    shutil.rmtree(classes)
    return jar


def build():
    """Returns (classpath, class-data archive), building first if
    the tree changed."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("perfbench: engine sources not found at src/main/scala")
    jars = spark_jars()
    srcs = _sources(ENGINE_SRC, ".scala") + _sources(BENCH_SRC, ".scala")
    res = _sources(ENGINE_RES, "") if os.path.isdir(ENGINE_RES) else []
    h = hashlib.sha256()
    for f in srcs + res + [os.path.join(ROOT, "perfbench", "build.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    classpath = os.pathsep.join([jar] + jars)
    if not os.path.isfile(os.path.join(out, ".done")):
        os.makedirs(BUILD, exist_ok=True)
        for old in os.listdir(BUILD):
            if old.startswith("build-"):
                shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
        os.makedirs(out)
        _compile(srcs, res, out, jars)
        train(out, classpath, archive)
        open(os.path.join(out, ".done"), "w").close()
    return classpath, archive


def train(out, classpath, archive):
    """One short fixed_income run on seed-0 inputs, recording the classes it
    loads into the archive the measured runs start from."""
    import gen
    import run
    work = os.path.join(out, "train")
    gen.generate("fixed_income", os.path.join(work, "input"), 0)
    rc, log = run.run_jvm(classpath, None, "fixed_income", os.path.join(work, "input"),
                          work, 0, False, setups=1,
                          extra=["-XX:ArchiveClassesAtExit=" + archive])
    if rc != 0 or not os.path.isfile(archive):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: training run failed (exit %s)" % rc)
    shutil.rmtree(work)
