"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's (``perfbench/src``) using the Scala compiler that ships among
the Spark jars (``$SPARK_HOME/jars``, else the directory ``build.sbt``
names as ``unmanagedBase``), into ``.bench_build/classes`` under the
checkout. A stamp of every source file's path and content skips the
compile when nothing changed. Run it alone with::

    python3 perfbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jars directory: ``$SPARK_HOME/jars``, else the one the
    engine's own build reads (``unmanagedBase`` in ``build.sbt``)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def _sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    """Compile if needed; return the classes directory."""
    engine = _sources(os.path.join(root, "src", "main", "scala"))
    bench = _sources(os.path.join(root, "perfbench", "src"))
    if not engine:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    if not bench:
        raise BuildError(f"no benchmark sources under {root}/perfbench/src")
    spark = spark_jars(root)

    digest = hashlib.sha256()
    for path in engine + bench:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(sorted(os.listdir(spark))).encode())
    stamp_value = digest.hexdigest()

    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == stamp_value:
                return classes

    # compile next to the target and swap it in, so a failed or concurrent
    # build never leaves a half-written classes directory behind
    staging = f"{classes}.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(out, f"sources.{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(engine + bench) + "\n")
    jars = os.path.join(spark, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-d", staging, "-classpath", jars, "-nowarn", "@" + argfile]
    try:
        proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True,
                              timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile exceeded {COMPILE_TIMEOUT_S} s")
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(staging, classes)
    with open(stamp, "w") as f:
        f.write(stamp_value + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
