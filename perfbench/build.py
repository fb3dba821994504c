"""Build file of the benchmark: compiles graft's main sources together with
the harness (`perfbench/harness`) with the Scala compiler that ships in
Spark's jar directory and packs the classes into `.bench_build/bench.jar`.
A stamp over every source file's content skips the compile when nothing
changed. The runtime classpath lists every jar explicitly (no wildcard, no
class directory), so the JVM can map a class-data-sharing archive of it.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "bench.jar")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "harness")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(SOURCE_DIRS[0]) for p in out):
        raise BuildError(f"no graft sources under {SOURCE_DIRS[0]}")
    return sorted(out)


def classpath():
    jars = spark_jars()
    deps = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    return os.pathsep.join([JAR] + deps)


def pack(classes, jar):
    """Zip a class directory into a jar with fixed entry order and times."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", (1980, 1, 1, 0, 0, 0)),
                   "Manifest-Version: 1.0\r\n\r\n")
        for base, dirs, files in sorted(os.walk(classes)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(base, f)
                info = zipfile.ZipInfo(os.path.relpath(p, classes), (1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(p, "rb") as fh:
                    z.writestr(info, fh.read())
    os.replace(tmp, jar)


def build(log=sys.stderr):
    """Compile when the sources changed; return the runtime classpath."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and os.path.exists(JAR) and open(STAMP).read() == stamp:
        return classpath()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError(f"expected one Scala compiler, library and reflect jar in {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited {r.returncode}")
    pack(CLASSES, JAR)
    shutil.rmtree(CLASSES)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
