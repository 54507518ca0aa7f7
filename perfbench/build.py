"""Build file of the benchmark: compiles the engine sources of a checkout
together with the benchmark's own Scala sources, using the Scala compiler
that ships in Spark's jars directory, then writes a class data sharing
archive for the jar with one throwaway run, so that every measured JVM maps
the same archive. The build is reused while the sources and the jar set are
unchanged."""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 needs these outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


HEAP = "4g"


def java(jar, main, args, archive=None, dump=False):
    """The command line of a benchmark JVM: `main` with `args`, the engine
    and benchmark `jar` plus Spark's jars on the class path, mapping the
    class data sharing `archive` (or writing it at exit with `dump`)."""
    cmd = ["java", "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=512m"]
    if archive:
        cmd += [("-XX:ArchiveClassesAtExit=" if dump else "-XX:SharedArchiveFile=") + archive,
                "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"), main] + args


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise RuntimeError("Spark jars with a Scala compiler not found; set SPARK_HOME")
    return jars


def scala_sources(root, with_tests=False):
    """Engine sources under `root` plus the benchmark's sources."""
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise RuntimeError("no engine sources under %s/src/main/scala" % root)
    dirs = ["src"] + (["test"] if with_tests else [])
    bench = sorted(f for d in dirs for f in glob.glob(
        os.path.join(BENCH_DIR, d, "**", "*.scala"), recursive=True))
    return engine + bench


def archive(jar):
    """The class data sharing archive of a built jar."""
    return os.path.join(os.path.dirname(jar), "classes.jsa")


def dump_archive(jar):
    """Writes the jar's class data sharing archive from one throwaway run
    (input generation of a fixed workload and seed into a temporary dir),
    so the archive is the same whichever run comes first after a build."""
    work = tempfile.mkdtemp(prefix="cds-", dir=os.path.dirname(jar))
    try:
        cmd = java(jar, "graft.perfbench.Main",
                   ["--phase", "prepare", "--workload", "recrawl_window", "--seed", "0",
                    "--work", work, "--cores", "1"], archive(jar), dump=True)
        res = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not os.path.isfile(archive(jar)):
        raise RuntimeError("writing the class data sharing archive failed")


def build(root, out, with_tests=False):
    """Compile into `out`/bench.jar unless an identical build is there, and
    (except for test builds) write its class data sharing archive. Returns
    (jar, whether it was built now)."""
    jars = spark_jars()
    srcs = scala_sources(root, with_tests)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    key = h.hexdigest()
    jar = os.path.join(out, "bench.jar")
    stamp = os.path.join(out, "BUILD_KEY")
    if os.path.isfile(jar) and os.path.isfile(stamp) and open(stamp).read() == key:
        return jar, False
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "classes")
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    print("[perfbench] compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise RuntimeError("compilation failed")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.rename(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    if not with_tests:
        dump_archive(jar)
    with open(stamp, "w") as fh:
        fh.write(key)
    return jar, True
