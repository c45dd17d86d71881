"""Build file of the benchmark: compiles the engine (src/main) and the
harness (perfbench/harness) with the Scala compiler that ships in the Spark
distribution, against the Spark jars, into one jar. No sbt, no network.

It then records a class-data-sharing archive of a JVM that starts a
SparkEngine session, so every run's JVM maps the Spark classes instead of
loading and verifying them (about 5 s of each run's start on 4 cores).

Output lands in $CARGO_TARGET_DIR (default .bench_build) under the
checkout; a stamp of the source hashes skips the build when nothing changed.

    python3 perfbench/build.py          # prints the jar path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"build: no Spark jars under '{jars}' (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(CHECKOUT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        sys.exit(f"build: no engine sources under {CHECKOUT}/src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def jvm_cmd(jar, extra=()):
    """java with the module opens Spark 4 needs on JDK 17 and the class path."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java", *extra]
            + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", f"{jar}:{spark_jars()}"])


def cds_archive(jar):
    return jar[:-len(".jar")] + ".jsa"


def build():
    """Returns the harness jar, building it first if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, CHECKOUT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    target = os.environ.get("CARGO_TARGET_DIR") or os.path.join(CHECKOUT, ".bench_build")
    jar = os.path.join(target, "perfbench.jar")
    stamp_file = os.path.join(target, "perfbench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    tmp = os.path.join(target, "perfbench-classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit(f"build: scalac failed ({r.returncode})")
    for p in (stamp_file, jar, cds_archive(jar)):
        if os.path.exists(p):
            os.remove(p)
    subprocess.run(["jar", "cf", jar, "-C", tmp, "."], check=True)
    shutil.rmtree(tmp)
    with tempfile.TemporaryDirectory(dir=target) as scratch:
        subprocess.run(jvm_cmd(jar, [f"-XX:ArchiveClassesAtExit={cds_archive(jar)}",
                                     f"-Djava.io.tmpdir={scratch}", "-Dspark.ui.enabled=false"])
                       + ["graftbench.Harness", "--workload", "session", "--cpus", "1"],
                       cwd=scratch, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


if __name__ == "__main__":
    print(build())
