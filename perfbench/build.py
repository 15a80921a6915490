"""Build file of the benchmark package: compiles the program (`src/main/scala`)
together with the benchmark's own sources (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory. No sbt, no network.

The Spark jar directory is `$SPARK_HOME/jars` when set, else the
`unmanagedBase` that the repository's `build.sbt` names. The output is
cached under the build directory, keyed by a hash of every source file.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or unmanagedBase in build.sbt")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    return main + bench


def build(root, out_dir):
    """Compiles if needed; returns the runtime classpath as a list."""
    jars = spark_jars(root)
    files = sources(root)
    resources = os.path.join(root, "src/main/resources")
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", tmp, "-cp", cp] + files
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=800)
        if p.returncode != 0:
            raise BuildError("scalac failed:\n" + p.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [classes, resources, os.path.join(jars, "*")]


def jvm_flags():
    flags = []
    for p in JDK_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags
