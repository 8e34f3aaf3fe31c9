#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

    python3 perfbench/run.py --workload cosine-ivf --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds into .bench_build/ (or
$CARGO_TARGET_DIR when set): it compiles graft's main sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in Spark's jar directory, packs them into
one jar, and runs every workload once with -XX:ArchiveClassesAtExit to make
a class-data-sharing archive that cuts each later JVM's start-up. Later runs
reuse the build while no source changed. Each run starts one JVM on
local[<cores>], writes its seeded inputs under the build directory, and
removes them when it ends.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}; the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1. The line before it lists the generated input's properties. The
exit code is 0 only when every job succeeded and every check passed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SOURCES = os.path.join(ROOT, "src", "main", "scala")
BENCH_SOURCES = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
# A fixed heap keeps heap growth from changing GC timing from run to run.
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the sbt
    build names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    fail("cannot find Spark's jars: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if (not home or os.path.exists(exe)) else "java"


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile graft + the benchmark and make the class-data archive, unless
    both are current. Returns (jar, archive or None, Spark's jar directory)."""
    if not os.path.isdir(SOURCES):
        fail(f"graft's sources are missing ({os.path.relpath(SOURCES, ROOT)}); "
             "run from the repository root")
    files = scala_files(SOURCES) + scala_files(BENCH_SOURCES)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "build")
    jar = os.path.join(out, "perfbench.jar")
    jsa = os.path.join(out, "perfbench.jsa")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, (jsa if os.path.exists(jsa) else None), jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    t = time.time()
    # an explicit -classpath keeps the compiler from treating the working
    # directory as a package root
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", classes, "-nowarn",
           "-d", classes] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        fail("compilation failed", 3)
    # class-data sharing takes classes from jars only
    tmp_jar = os.path.join(tmp, "perfbench.jar")
    with zipfile.ZipFile(tmp_jar, "w") as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    compiled = time.time() - t
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    work = os.path.join(build_dir(), f"train-{os.getpid()}")
    try:
        code, _ = run_jvm("perfbench.Train", ["--dir", work, "--cores", str(cores())], jar, None,
                          jars, work, [f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.exists(jsa):
        os.remove(jsa)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {len(files)} files in {compiled:.1f}s, class-data archive "
          f"{'made' if os.path.exists(jsa) else 'FAILED'} in {time.time() - t - compiled:.1f}s",
          file=sys.stderr)
    return jar, (jsa if os.path.exists(jsa) else None), jars


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(main, args, jar, jsa, jars, work, extra=()):
    """Run a JVM main with its temp files under `work`; returns (code, stdout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java()] + JVM_OPTS + list(extra) + ([f"-XX:SharedArchiveFile={jsa}"] if jsa else []) + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dderby.system.home={tmp}",
        "-cp", jar + os.pathsep + os.path.join(jars, "*"), main] + args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             cwd=work, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, ""
    with open(log_path) as f:
        log = f.read()
    if p.returncode != 0:
        sys.stderr.write(log[-6000:])
    elif os.environ.get("PERFBENCH_VERBOSE"):
        sys.stderr.write("".join(l + "\n" for l in log.splitlines() if l.startswith("perfbench:")))
    return p.returncode, out


def load_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="test the generators and checkers, no Spark session")
    a = ap.parse_args()

    jar, jsa, jars = build()
    work = os.path.join(build_dir(), f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, out = run_jvm("perfbench.SelfTest", [], jar, jsa, jars, work)
            sys.stdout.write(out)
            sys.exit(0 if code == 0 else 1)
        contract = load_contract()
        names = [w["name"] for w in contract["workloads"]]
        if a.workload not in names:
            fail(f"--workload must be one of {', '.join(names)}")
        spans = os.path.join(build_dir(), "traces", f"{a.workload}-seed{a.seed}.jsonl")
        code, out = run_jvm("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--dir", work, "--cores", str(cores())]
            + (["--spans", spans] if a.trace else []), jar, jsa, jars, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    if code != 0 or not lines:
        fail(f"run failed (exit code {code})", 4)
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    want = [m["name"] for m in contract["per_layer" if a.trace else "end_to_end"]]
    if list(res["metrics"]) != want:
        fail("the run's metrics do not match BENCHMARK.json: "
             f"{sorted(set(res['metrics']) ^ set(want))}", 5)
    for f in res["failures"]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print("inputs " + json.dumps(res["inputs"], sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
