#!/usr/bin/env python3
"""silvia benchmark entry point.

Builds silviaspark (src/main) and the benchmark (perfbench/src) with the
Scala compiler that ships in Spark's jars, then runs one workload in one
JVM and relays its result.

    python3 perfbench/run.py --workload silvia_upsert --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. Everything it writes (classes, generated
inputs, the system under test's lake/Derby/index dirs) stays under
.bench_build/ in the checkout. The last line of stdout is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

WORKLOADS = ("silvia_upsert", "corpus_dedup")
BUILD = ".bench_build"
HEAP = "3g"
# class-data-sharing archive of every class a workload's run loads, written
# at exit by its first run after a build and mapped by the runs after it
# (JVM start-up and the first micro-batch spend most of their time loading
# classes)
CDS = os.path.join(BUILD, "classes", "%s.jsa")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("run.py: no Spark jars with a Scala compiler found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(out, files, classpath, jars, extra="", resources=()):
    """scalac `files` into `out` unless `out` already holds this exact source set;
    returns whether it compiled."""
    stamp = os.path.join(out, ".stamp")
    want = digest(files) + extra
    if os.path.exists(out + ".jar") and os.path.exists(stamp) and open(stamp).read() == want:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-d", out, "-classpath", ":".join([jars] + classpath), "-nowarn"] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"run.py: compiling {out} failed")
    for res in resources:
        shutil.copytree(res, out, dirs_exist_ok=True)
    # classes go on the class path as a jar: the class-data-sharing archive
    # below only covers classes loaded from jars
    r = subprocess.run(["jar", "cf", out + ".jar", "-C", out, "."], stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"run.py: packing {out}.jar failed")
    for f in glob.glob(CDS % "*"):
        os.remove(f)
    with open(stamp, "w") as fh:
        fh.write(want)
    return True


def build(jars):
    main_src = sources("src/main/scala")
    if not main_src:
        sys.exit("run.py: src/main/scala not found; run from the root of a silviaspark checkout")
    main_out = os.path.join(BUILD, "classes", "main")
    bench_out = os.path.join(BUILD, "classes", "bench")
    compile_into(main_out, main_src, [], jars, resources=["src/main/resources"])
    # the benchmark is rebuilt whenever the program under test changes
    with open(os.path.join(main_out, ".stamp")) as fh:
        if compile_into(bench_out, sources("perfbench/src"), [main_out], jars, extra=fh.read()):
            # cached inputs were written by the previous generator
            shutil.rmtree(os.path.join(BUILD, "data"), ignore_errors=True)
    return [bench_out + ".jar", main_out + ".jar"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, help="Spark local[k] (default: nproc, at most 4)")
    a = ap.parse_args()

    jars = spark_jars()
    cp = build(jars)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    archive = CDS % a.workload
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", cds,
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={tmp}",
            "-Duser.timezone=UTC", "-Duser.language=en", "-Duser.country=US",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", ":".join(cp + [jars]), "silviabench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", BUILD] + (["--cores", str(a.cores)] if a.cores else []))
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=900)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(r.stdout)
        sys.exit(f"run.py: benchmark JVM exited with {r.returncode} and no result")
    sys.stdout.write(r.stdout if r.stdout.endswith("\n") else r.stdout + "\n")


if __name__ == "__main__":
    main()
