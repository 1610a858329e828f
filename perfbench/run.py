"""Benchmark launcher: builds the engine and the benchmark from source,
generates the workload's inputs from the seed, runs one measured window
and prints the result as the last line of standard output.

    python3 perfbench/run.py --workload <cfpb_ml|corpus_curation>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run it from the root of a checkout. Build output, inputs and run artifacts
go to `.bench_build/` there. The exit code is non-zero when the build
fails, an output check fails, or no result line was produced.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
# Whole-run limits, build and input generation included: the first run
# after a build also writes the class-data archive.
RUN_LIMIT_S = 172
FIRST_RUN_LIMIT_S = 880
DRIVER_HEAP = "3g"

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def busy_share(interval=0.5):
    """Share of the machine's CPU time used over `interval` seconds, while
    this process sleeps: the load other processes put on it."""
    def snap():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + v[4]
    try:
        t0, i0 = snap()
        time.sleep(interval)
        t1, i1 = snap()
    except (OSError, ValueError, IndexError):
        return 0.0
    return 1.0 - (i1 - i0) / max(t1 - t0, 1)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the engine's own build file takes its jars from."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build_sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    sys.exit("perfbench: no Spark jar directory with a Scala compiler found "
             "(set SPARK_HOME)")


def scala_files():
    files = []
    for src in SOURCES:
        if not os.path.isdir(src):
            sys.exit("perfbench: source directory %s is missing" % os.path.relpath(src, ROOT))
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    """Compiles the engine and the benchmark into one class directory;
    reuses it while no source file and no jar changed."""
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "perfbench.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    log("compiling %d Scala files" % len(files))
    os.makedirs(BUILD, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=BUILD)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compilation failed")
    # one jar, not a class directory: class-data archives accept only jars
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(tmp):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    os.replace(jar + ".tmp", jar)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


def jvm(jars, classes, main, args, tmp_dir, timeout, archive=True):
    """Runs a JVM main, killing it after `timeout` seconds; returns (exit
    code, stdout lines)."""
    add_opens = [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar"]
    os.makedirs(tmp_dir, exist_ok=True)
    # A class-data archive of the classes a run loads, written by the first
    # run after a build, cuts the class-loading part of every later run's
    # start-up; it is rebuilt with the classes.
    # the heap starts at its full size: a growing heap slows the first
    # passes down and stretches the warm-up
    cmd = ["java", "-Xms" + DRIVER_HEAP, "-Xmx" + DRIVER_HEAP, "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", "-Xlog:all=warning:stderr", "-Djava.io.tmpdir=" + tmp_dir,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if archive:
        cmd.append(("-XX:SharedArchiveFile=" if os.path.exists(ARCHIVE)
                    else "-XX:ArchiveClassesAtExit=") + ARCHIVE)
    for p in add_opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    classpath = [classes] + [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                             if j.endswith(".jar")]
    cmd += ["-cp", os.pathsep.join(classpath), main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp_dir, "spark"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: run exceeded its time limit")
    return proc.returncode, out.splitlines()


def self_test(jars, classes):
    failed = 0
    base = os.path.join(BUILD, "self-test")
    shutil.rmtree(base, ignore_errors=True)

    def digest(d):
        h = hashlib.sha256()
        for n in sorted(os.listdir(d)):
            h.update(n.encode())
            with open(os.path.join(d, n), "rb") as f:
                h.update(f.read())
        return h.hexdigest()

    for w in gen.WORKLOADS:
        dirs = [os.path.join(base, "%s-%s" % (w, tag)) for tag in ("a", "b", "c")]
        gen.generate(w, 7, dirs[0], tiny=True)
        gen.generate(w, 7, dirs[1], tiny=True)
        gen.generate(w, 8, dirs[2], tiny=True)
        same = digest(dirs[0]) == digest(dirs[1])
        differs = digest(dirs[0]) != digest(dirs[2])
        for name, ok in (("same seed gives byte-identical %s inputs" % w, same),
                         ("another seed gives other %s inputs" % w, differs)):
            print("[self-test] %s %s" % ("ok  " if ok else "FAIL", name))
            failed += not ok
    code, lines = jvm(jars, classes, "perfbench.SelfTest", [], os.path.join(base, "tmp"),
                      RUN_LIMIT_S, archive=False)
    print("\n".join(lines))
    shutil.rmtree(base, ignore_errors=True)
    return 1 if failed or code != 0 else 0


def main():
    start = time.monotonic()
    load1 = os.getloadavg()[0]
    busy = busy_share()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    limit = RUN_LIMIT_S if os.path.exists(ARCHIVE) else FIRST_RUN_LIMIT_S
    if a.self_test:
        return self_test(jars, classes)

    run_dir = os.path.join(BUILD, "runs", "%s-%d-trace%d" % (a.workload, a.seed, a.trace))
    inputs = os.path.join(run_dir, "inputs")
    shutil.rmtree(run_dir, ignore_errors=True)
    gen.generate(a.workload, a.seed, inputs)
    code, lines = jvm(jars, classes, "perfbench.Main", [
        "--workload", a.workload, "--input", inputs, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", run_dir,
        "--load1", "%.2f" % load1, "--busy", "%.3f" % busy], os.path.join(run_dir, "tmp"),
        limit - (time.monotonic() - start))
    # inputs are regenerated from the seed on every run; keep only the
    # run's own artifacts (details.json, spans.jsonl)
    for d in ("inputs", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    results = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if not results:
        log("no result line (exit code %d)" % code)
        return code or 1
    print(results[-1], flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
