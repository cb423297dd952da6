"""Build file of the benchmark package.

Compiles the library under test (`src/main/scala` at the repository root)
together with the benchmark's own sources (`perfbench/src`) into one class
directory with the Scala 2.13 compiler that ships in Spark's jar directory
(the one build.sbt compiles against). No sbt, no network, and nothing is
written outside `perfbench/.build`.

The output directory is keyed by a digest of every source file, so a warm
checkout reuses its classes and any edit rebuilds from scratch.

    python3 perfbench/build.py          # build (or reuse) and print the class dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: the `unmanagedBase` the repository's build.sbt
    compiles against, unless SPARK_HOME names another Spark."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(REPO, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if m is None:
            raise BuildError("SPARK_HOME is unset and build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars}")
    return jars


def _sources():
    lib = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError(f"no library sources under {os.path.join(REPO, 'src', 'main', 'scala')}")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    return lib + bench


def _digest(files, jars):
    h = hashlib.sha256()
    h.update(os.path.realpath(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built(log=sys.stderr):
    """Return the class directory for the current sources, compiling if needed."""
    jars = spark_jars()
    files = _sources()
    out = os.path.join(BUILD_ROOT, _digest(files, jars))
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(BUILD_ROOT, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
