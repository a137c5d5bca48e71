#!/usr/bin/env python3
"""Build the benchmark: compile the engine sources (src/main/scala) and the
benchmark's own Scala sources (perfbench/scala) with scalac into
.bench_build/classes, against the Spark distribution's jars.

Run from the repository root:  python3 perfbench/build.py
The build is skipped when the sources are unchanged since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(CLASSES, ".stamp")

# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def compiler_classpath(jars):
    lib = glob.glob(os.path.join(jars, "scala-library-*.jar"))
    if not lib:
        raise BuildError("no scala-library jar in " + jars)
    version = os.path.basename(lib[0])[len("scala-library-"):-len(".jar")]
    found = []
    for name in ("scala-compiler", "scala-reflect"):
        cands = glob.glob(os.path.join(jars, "%s-%s.jar" % (name, version))) or glob.glob(
            os.path.join(os.path.expanduser("~"), ".cache", "coursier", "**",
                         "%s-%s.jar" % (name, version)), recursive=True)
        if not cands:
            raise BuildError("no %s %s jar next to Spark or in the coursier cache" % (name, version))
        found.append(cands[0])
    return [lib[0]] + found


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError("engine sources not found at src/main/scala (run from a full checkout)")
    scala = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    resources = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(f for f in glob.glob(os.path.join(resources, "**"), recursive=True) if os.path.isfile(f))
    return scala, resources, res


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    jars = spark_jars()
    scala, resources, res = sources()
    stamp = fingerprint(scala + res + [os.path.abspath(__file__)])
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(['"%s"' % s for s in scala]))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler_classpath(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "-d", tmp, "@" + argfile]
    print("[build] compiling %d Scala sources" % len(scala), file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for f in res:
        dest = os.path.join(tmp, os.path.relpath(f, resources))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(f, dest)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return cp


def main():
    os.makedirs(BUILD, exist_ok=True)
    try:
        print(ensure_built())
    except BuildError as e:
        print("[build] " + str(e), file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
