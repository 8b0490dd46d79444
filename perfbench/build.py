#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala of
the checkout) together with the harness (perfbench/harness) into
.bench_build/classes with the Scala compiler that ships in the Spark
jars ($SPARK_HOME/jars, or the unmanagedBase of build.sbt). No sbt: the compile reads only the checkout and the Spark jars,
and writes only under .bench_build.

The build is skipped when a stamp over every source file still matches.

Usage: python3 perfbench/build.py      (prints the classpath)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt names as its
    unmanagedBase: the Spark jars the program compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def _sources(root):
    roots = [os.path.join(root, "src", "main", "scala"),
             os.path.join(root, "perfbench", "harness")]
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"perfbench: no sources under {r}; run from the repository root")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(root, files):
    h = hashlib.sha256()
    res = os.path.join(root, "src", "main", "resources")
    extra = [os.path.join(d, f) for d, _, fs in os.walk(res) for f in fs]
    for f in files + sorted(extra):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(",".join(sorted(os.listdir(spark_jars(root)))).encode())
    return h.hexdigest()


def java_cmd(classpath, heap, main, args):
    """The JVM command line for a Spark program: JDK 17 needs the same
    --add-opens flags that build.sbt passes to forked runs."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + [f"-Xmx{heap}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.pathsep.join(classpath), main] + list(args))


def build(root):
    """Compiles if needed and returns the runtime classpath."""
    files = _sources(root)
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    stamp = _stamp(root, files)
    classpath = [os.path.join(spark_jars(root), "*"), out,
                 os.path.join(root, "src", "main", "resources")]
    if os.path.isdir(out) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classpath
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())))
