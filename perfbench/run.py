#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload batch_cpu --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine
(src/main/scala) and this harness (perfbench/src) with the Scala
compiler that ships in Spark's jars, into .bench_build/; later runs
reuse the build while the sources are unchanged. Each run starts one
fresh JVM with the JVM options of build.sbt and prints, as the last
line of standard output, one JSON object with the keys correct,
attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "graftbench")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


JARS = spark_jars()
WORKLOADS = ["batch_cpu", "batch_driver", "stream_state"]
RUN_LIMIT_S = 175  # the whole run, build included, must end within 180 s
# keeps each JVM's perf counters in memory, not in a file under /tmp, so a
# run writes only inside its checkout
NO_PERF_FILE = "-XX:+PerfDisableSharedMem"

# build.sbt's javaOptions: Spark 4 on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(sources, dest, classpath, log):
    """Compile with the scala-compiler jar that ships in Spark's jars."""
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", NO_PERF_FILE, "-Xss8m", "-Xmx2g", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-classpath", classpath]
    with open(log, "w") as fh:
        r = subprocess.run(cmd + ["@" + argfile], stdout=fh, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"compile failed, see {log}")


def build():
    """Build the engine, then the harness against it, when sources change."""
    engine, bench = scala_files(ENGINE_SRC), scala_files(BENCH_SRC)
    if not engine or not bench:
        fail(f"no sources under {ENGINE_SRC} or {BENCH_SRC}: "
             "run from the root of a checkout of the repository")
    if not os.path.isdir(JARS):
        fail(f"no Spark jars at {JARS}; set SPARK_HOME")
    os.makedirs(OUT, exist_ok=True)
    ecls, bcls = os.path.join(OUT, "engine"), os.path.join(OUT, "bench")
    want = {"engine": stamp(engine), "bench": stamp(bench)}
    stamp_file = os.path.join(OUT, "stamp.json")
    have = {}
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            have = json.load(fh)
    if have.get("engine") != want["engine"]:
        t = time.time()
        scalac(engine, ecls, None, os.path.join(OUT, "engine-compile.log"))
        print(f"built engine in {time.time() - t:.1f} s")
        have = {"engine": want["engine"]}
    if have.get("bench") != want["bench"]:
        t = time.time()
        scalac(bench, bcls, ecls, os.path.join(OUT, "bench-compile.log"))
        print(f"built harness in {time.time() - t:.1f} s")
    with open(stamp_file, "w") as fh:
        json.dump(want, fh)
    return [bcls, ecls]


def driver_mem():
    """SPARK_DRIVER_MEM, else the test suite's rule: half of RAM, 2-8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test hooks: each must make the run report a failure
    ap.add_argument("--inject-throw", action="store_true",
                    help="add a query that throws to every pass")
    ap.add_argument("--corrupt-fingerprint", action="store_true",
                    help="flip one bit of one pinned fingerprint")
    args = ap.parse_args()
    t0 = time.time()
    classpath = build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(OUT, "trace", f"{tag}.jsonl")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    log = os.path.join(OUT, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    jvm = ["java", NO_PERF_FILE]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jvm += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{driver_mem()}",
        "-XX:ReservedCodeCacheSize=1280m",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", os.pathsep.join(classpath + [os.path.join(JARS, "*")]),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", os.path.join(HERE, "data"),
        "--pins", os.path.join(HERE, "fingerprints.json"),
        "--work", work, "--result", result, "--trace-out", trace_out,
    ]
    if args.inject_throw:
        jvm.append("--inject-throw")
    if args.corrupt_fingerprint:
        jvm.append("--corrupt-fingerprint")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log, "w") as err:
        proc = subprocess.Popen(jvm, stdout=subprocess.PIPE, stderr=err,
                                env=env, cwd=work, text=True)
        try:
            out, _ = proc.communicate(timeout=max(30, RUN_LIMIT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload} did not finish in time; log: {log}")
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.exists(result):
        fail(f"{args.workload} exited with code {proc.returncode}; log: {log}")
    with open(result) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)

    last = os.path.join(OUT, "last", f"{args.workload}.json")
    if args.trace == 0:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as fh:
            json.dump(res, fh)
    elif os.path.exists(last) and "trace.warm_s" in res["metrics"]:
        with open(last) as fh:
            plain = json.load(fh)["metrics"].get("warm_s", {}).get("value")
        if plain:
            traced = res["metrics"]["trace.warm_s"]["value"]
            print(f"tracing overhead: traced warm_s {traced:.3f} - untraced "
                  f"warm_s {plain:.3f} = {traced - plain:+.3f} s")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
