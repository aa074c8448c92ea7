"""Builds the program and the harness from source with the Scala compiler
that ships in Spark's jar directory. Output goes to `.bench_build/classes`
in the checkout and is reused while no source file changes."""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "scala")

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# program's own build file).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# -XX:-UsePerfData: no hsperfdata file outside the checkout
JVM_OPTS = ["-XX:-UsePerfData"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    the program's build file names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: cannot locate Spark's jars (set SPARK_HOME)")
    return m.group(1)


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"perfbench: no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))
    return files


def classpath(extra=()):
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    return os.pathsep.join(list(extra) + jars)


def build(log=sys.stderr):
    """Returns the class directory, compiling first if any source changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(WORK, "classes")
    stamp_file = os.path.join(WORK, "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = classpath()
    argfile = os.path.join(WORK, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", cp] + files))
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out

