"""Runs one benchmark run of graft and prints its result.

    python3 perfbench/run.py --workload ingest|serve|ann --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark
from source when they are stale (see build.py), runs one JVM, prints
each metric as `name value unit`, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(see perfbench/README.md). Spans and per-operation records are written
to .bench_build/results/<workload>-seed<N>-trace<T>.json.

The first run after a build records the classes it loads in a
class-data-sharing archive (build.CDS_ARCHIVE) as its JVM exits; later
runs map it, which saves seconds of JVM and Spark start-up per run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "serve", "ann")
RUN_LIMIT_S = 170        # one run, after any build
JVM_OPTS = [
    # no hsperfdata file under /tmp: a run writes only inside its checkout
    "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def java_cmd(classpath, work, main, args, jvm_opts=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + JVM_OPTS + list(jvm_opts) + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-cp", os.pathsep.join(classpath), main] + args)


def run_jvm(cmd, log, limit_s):
    """Runs cmd in its own process group; kills the group on timeout."""
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    with open(log, "wb") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=build.ROOT, env=env, start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def tail(path, n=3000):
    with open(path, "rb") as fh:
        data = fh.read()
    return data[-n:].decode(errors="replace")


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    data = os.path.join(build.HERE, "data")
    if not all(os.path.exists(os.path.join(data, f))
               for f in ("documents.parquet", "embeddings.parquet")):
        sys.stderr.write("missing fixture data under %s\n" % data)
        return 2
    t0 = time.time()
    try:
        classpath = build.ensure()
    except build.BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        return 2
    built_s = time.time() - t0
    # after a build (a checkout's first run may take 900 s) the JVM gets
    # the whole limit; otherwise the run as a whole stays within it
    limit = RUN_LIMIT_S if built_s > 30 else RUN_LIMIT_S - built_s

    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.BUILD, "work", "%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log = os.path.join(results, tag + ".log")
    dump = not os.path.exists(build.CDS_ARCHIVE)
    cds = ("-XX:ArchiveClassesAtExit=" if dump else "-XX:SharedArchiveFile=") + build.CDS_ARCHIVE
    try:
        rc = run_jvm(java_cmd(classpath, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--work", work, "--out", out,
            "--side", os.path.join(results, tag + ".json")], [cds]), log, limit)
        if dump and rc != 0 and os.path.exists(build.CDS_ARCHIVE):
            # a failed dump leaves no usable archive; the run still counts
            os.remove(build.CDS_ARCHIVE)
        if rc is None or (rc != 0 and not dump) or not os.path.exists(out):
            sys.stderr.write(tail(log))
            sys.stderr.write("\nrun failed: %s\n" % ("timeout" if rc is None else "exit %s" % rc))
            return 1
        with open(out) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, m in result["metrics"].items():
        print("%-40s %18.6f %s" % (name, m["value"], m["unit"]))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
