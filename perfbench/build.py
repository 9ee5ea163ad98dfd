#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in the Spark
distribution, into <build dir>/classes-<source hash>. A tree whose sources
are unchanged reuses its build.

    python3 perfbench/build.py     # from the repository root; prints the output dir

The build dir is .bench_build at the repository root; Spark is $SPARK_HOME,
or the installation whose spark-submit is on the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 needs these outside spark-submit; the list matches the
# repository's build.sbt.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found; set SPARK_HOME")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under %s/src/main/scala" % root)
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return engine + harness


def build(root):
    """Return the directory of the engine and harness classes, compiling
    them if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(spark_jars())
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout.decode("utf-8", "replace")[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(build_dir(root), "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def java_command(classes, heap, tmpdir):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java"] + opens + [
        "-Xmx" + heap, "-Djava.io.tmpdir=" + tmpdir, "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([classes] + spark_jars())]


if __name__ == "__main__":
    try:
        print(build(os.path.dirname(HERE)))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
