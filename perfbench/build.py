"""Build file of the benchmark: compiles the engine sources and the harness.

    python3 perfbench/build.py            # from the repository root

The engine (`src/main/scala`) and the harness (`perfbench/src`) are compiled
together with the Scala compiler that ships in Spark's `jars` directory, so
the build needs no sbt, no dependency resolution and no network.  The
classes are packed into `<build dir>/perfbench.jar`.  A stamp of the source
hashes skips the build when nothing changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
HEAP = "3g"

# Spark on JDK 17 needs the module opens spark-submit normally injects.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(RuntimeError):
    pass


def build_dir():
    """Where build and run outputs go (relative paths are taken from the root)."""
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found: set JAVA_HOME")
    return exe


def jvm_command(cp, tmp):
    """The JVM invocation every harness run uses (fixed heap, module opens,
    no hsperfdata, JVM warnings on stderr, temp files under `tmp`)."""
    cmd = [java(), "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr",
           "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp,
           "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources missing: %s" % ENGINE_SRC)
    out = []
    for d in (ENGINE_SRC, HARNESS_SRC):
        for dirpath, _, names in os.walk(d):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def stamp(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def compile_jar(srcs, jars, out, jar):
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
           "-Djava.io.tmpdir=" + out, "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)


def build():
    """Build if needed; return the class path to run the harness with."""
    jars = spark_jars()
    srcs = sources()
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "build.stamp")
    want = stamp(srcs, jars)
    have = open(stamp_file).read().strip() if os.path.exists(stamp_file) else ""
    cp = os.pathsep.join([jar] + jars)
    if want != have or not os.path.exists(jar):
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        compile_jar(srcs, jars, out, jar)
        with open(stamp_file, "w") as f:
            f.write(want + "\n")
    return cp


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
