"""Build file of the benchmark. From the repository root:

    python3 perfbench/build.py

1. Compiles graft's main sources and the benchmark's Scala sources
   (perfbench/src) with the Scala compiler that ships among the Spark
   jars, and packs the classes into one jar.
2. Runs every workload once, briefly, in a JVM that writes a
   class-data-sharing archive of the classes it loaded
   (-XX:ArchiveClassesAtExit). Each benchmark JVM maps that archive, so
   it does not parse and verify Spark's classes again: on a 4-core host
   this took about 7 s off each run, most of it in session start, the
   replay and model fit (measured 40 s -> 33 s per fraud_stream run).

Outputs are keyed by a hash of every source, so an unchanged tree is
not rebuilt; they live under the build dir (.bench_build).
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

# The Spark jars the sbt build compiles against (build.sbt's unmanagedBase).
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_DIR = ".bench_build"
JVM_HEAP = "2g"
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    return main, bench


def java_cmd(jar, tmp, args, archive=None):
    """The benchmark JVM: fixed heap, the module opens Spark needs on
    JDK 17, no perf-data file in the system temp dir, and `tmp` as
    java.io.tmpdir so index roots, Spark's local dirs and checkpoints
    stay inside the run directory."""
    share = [archive] if archive else []
    return (["java"] + JVM_OPENS + share +
            ["-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
             f"-Djava.io.tmpdir={tmp}", "-cp", f"{jar}:{SPARK_JARS}/*",
             "perfbench.Main"] + args)


def _compile(root, main, bench, jar):
    tmp = jar + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp",
           f"{SPARK_JARS}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", f"{SPARK_JARS}/*"] + main + bench
    r = subprocess.run(cmd, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in sorted(os.walk(tmp)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)


def _archive(jar, jsa, data):
    run_dir = jsa + ".run"
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = java_cmd(jar, os.path.join(run_dir, "tmp"),
                   ["classes", "1", "1", "0", data, run_dir],
                   f"-XX:ArchiveClassesAtExit={jsa}")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0 or not os.path.exists(jsa):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(l for l in f if " INFO " not in l)[-4000:])
        raise SystemExit("perfbench: class archive run failed")
    shutil.rmtree(run_dir)


def ensure(root, make_data):
    """(jar, JVM option that maps the class archive) for the current
    sources, building whatever is missing; `make_data()` gives the
    input tables the archive run reads."""
    main, bench = sources(root)
    if not main:
        raise SystemExit("perfbench: no graft sources under src/main/scala")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {SPARK_JARS}")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    build = os.path.join(root, BUILD_DIR)
    key = os.path.join(build, "graft-perfbench-" + h.hexdigest()[:16])
    jar, jsa = key + ".jar", key + ".jsa"
    os.makedirs(build, exist_ok=True)
    with open(os.path.join(build, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(jar):
            for old in glob.glob(os.path.join(build, "graft-perfbench-*")):
                if os.path.isdir(old):
                    shutil.rmtree(old)
                else:
                    os.remove(old)
            _compile(root, main, bench, jar)
        if not os.path.exists(jsa):
            _archive(jar, jsa, make_data())
    return jar, f"-XX:SharedArchiveFile={jsa}"


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run
    print(ensure(os.getcwd(), lambda: run.data_dir(os.getcwd())))
