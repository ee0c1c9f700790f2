"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jars directory ($SPARK_HOME/jars, or that of the installation
whose spark-submit is on PATH),
packs them into .bench_build/perfbench.jar, and records a class-data-
sharing archive (.bench_build/perfbench.jsa) from one training run of
cube_serve and curation_mix on tiny inputs, so each benchmark JVM starts
without re-parsing Spark's classes. A content stamp over every source skips the
build when nothing changed.

    python3 perfbench/build.py        # prints the jar path
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
JAR = OUT / "perfbench.jar"
ARCHIVE = OUT / "perfbench.jsa"
STAMP = OUT / "build.stamp"

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = pathlib.Path(submit).resolve().parent.parent
    return pathlib.Path(home) / "jars"


def jvm_heap():
    """Half the machine's memory in whole GB, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return "2g"


def java_cmd(work, cds_option, args):
    """The benchmark JVM: perfbench.Main with `args`, scratch in `work`."""
    return ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + jvm_heap(),
        "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",
        cds_option,
        "-Djava.io.tmpdir=" + str(work / "tmp"),
        "-Dlog4j2.configurationFile=" + str(HERE / "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join([str(JAR), str(spark_jars() / "*")]),
        "perfbench.Main",
        "--work", str(work),
        "--traces", str(OUT / "traces"),
        "--expected", str(HERE / "expected" / "curation.json"),
    ] + args


def java_env(work):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    env.pop("SPARK_GRAFT_CPUS", None)
    return env


def sources():
    found = []
    for base in (ROOT / "src" / "main" / "scala", HERE / "src"):
        found += sorted(p for p in base.rglob("*.scala") if p.is_file())
    return found


def stamp(files):
    h = hashlib.sha256()
    for p in files + [pathlib.Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    """Builds when the sources changed; returns the jar."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit("perfbench: graft sources not found under %s/src/main/scala" % ROOT)
    files = sources()
    want = stamp(files)
    if JAR.is_file() and ARCHIVE.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return JAR
    STAMP.unlink(missing_ok=True)
    classes = OUT / ("classes.%d" % os.getpid())
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / ("sources.%d.txt" % os.getpid())
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, "@" + str(argfile)]
    print("perfbench: compiling %d sources" % len(files), file=log, flush=True)
    try:
        res = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
        if res.returncode != 0:
            raise SystemExit("perfbench: compile failed (exit %d)" % res.returncode)
        with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
            for p in sorted(classes.rglob("*")):
                z.write(p, p.relative_to(classes).as_posix())
    finally:
        argfile.unlink(missing_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
    train(log)
    STAMP.write_text(want)
    return JAR


def train(log):
    """Records the class-data-sharing archive from a training run."""
    print("perfbench: recording class-data-sharing archive", file=log, flush=True)
    work = OUT / ("train.%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    ARCHIVE.unlink(missing_ok=True)
    cmd = java_cmd(work, "-XX:ArchiveClassesAtExit=" + str(ARCHIVE),
                   ["--workload", "cube_serve,curation_mix", "--seed", "1", "--seconds", "0",
                    "--trace", "0", "--train"])
    try:
        res = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=log, env=java_env(work),
                             cwd=str(work), timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not ARCHIVE.is_file():
        raise SystemExit("perfbench: training run failed (exit %d)" % res.returncode)


if __name__ == "__main__":
    print(build())
