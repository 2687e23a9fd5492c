"""Builds graft (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in the Spark distribution
($SPARK_HOME, or the one whose spark-submit is on PATH).

Classes go to the jars .bench_build/classes-main.jar and
.bench_build/classes-bench.jar at the root of the checkout; each is
rebuilt only when a digest of its sources (and, for the benchmark, of
the program's) changes. Rebuilding either deletes the class-data-sharing
archive run.py keeps beside them (it lists their classes).

    python3 perfbench/build.py      # build, print the classpath
"""
import fcntl
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")


def _spark_jars():
    """jars/ of $SPARK_HOME, else of the first spark-submit on PATH that
    sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    return next((os.path.join(h, "jars") for h in homes
                 if h and os.path.isdir(os.path.join(h, "jars"))), "")


SPARK_JARS = _spark_jars()
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")


class BuildError(Exception):
    pass


def _sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(files, out, classpath):
    # a jar, not a directory: the JVM archives classes from jars only
    tmp = out + ".tmp.jar"
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.pathsep.join(classpath), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed for " + out)
    os.replace(tmp, out)


def _ensure(name, files, classpath, extra=""):
    out = os.path.join(BUILD, name + ".jar")
    stamp = os.path.join(BUILD, name + ".stamp")
    digest = _digest(files, extra)
    if os.path.isfile(out) and os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest
    _compile(files, out, classpath)
    # the archive lists the runtime jars' classes (the test jar is not one)
    if name != "classes-test" and os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out, digest


def ensure(with_tests=False):
    """Builds what is stale; returns the runtime classpath."""
    main = _sources(MAIN_SRC)
    if not main or not os.path.isdir(SPARK_JARS):
        raise BuildError("need graft sources at %s and Spark jars at %s"
                         % (MAIN_SRC, SPARK_JARS))
    os.makedirs(BUILD, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        main_out, main_digest = _ensure("classes-main", main, [jars])
        bench_out, bench_digest = _ensure(
            "classes-bench", _sources(BENCH_SRC), [main_out, jars], main_digest)
        cp = [bench_out, main_out]
        if with_tests:
            test_out, _ = _ensure("classes-test", _sources(TEST_SRC),
                                  cp + [jars], bench_digest)
            cp = [test_out] + cp
    return cp + [jars]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(ensure("--tests" in sys.argv)))
    except BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        sys.exit(2)
