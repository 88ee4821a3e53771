#!/usr/bin/env python3
"""Pipeline benchmark launcher.

Builds the benchmark (perfbench/build.sbt, which compiles the engine and
operator library from ../src/main/scala together with perfbench/src) on first
use, then runs one workload in a fresh JVM and relays its report. The last
line of standard output is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`.

    python3 perfbench/run.py --workload dag_memory --seed 1 --seconds 10 --trace 0

Workloads: dag_memory, dag_jdbc, etl_sf001 (see perfbench/README.md).
`--smoke` shrinks every workload to toy size (about 50-job DAGs, sf0.001).
Every run works in a fresh directory under perfbench/.work that is deleted
when the run ends.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src", "main", "scala")
TARGET = os.path.join(BENCH_DIR, "target")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "bench-stamp.txt")
WORKLOADS = ("dag_memory", "dag_jdbc", "etl_sf001")
INJECTIONS = ("corrupt-fingerprint", "double-finish")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the main build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_digest():
    """Content hash of everything the benchmark is built from."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def commit_id(digest):
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-sha256:" + digest[:16]


def build(digest):
    """Compile with sbt unless the classpath matches the current sources."""
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH_FILE) as cf:
                    return cf.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SPARK_HOME"] = spark_home()
    home = os.path.expanduser("~")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={home}/.sbt/repositories",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    log_path = os.path.join(TARGET, "build.log")
    print("[perfbench] building (sbt compile)", file=sys.stderr, flush=True)
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(proc)
            fail("build timed out")
        log.write(out)
    if proc.returncode != 0:
        fail(f"build failed (rc {proc.returncode}), see {log_path}")
    lines = [ln.strip() for ln in out.splitlines()
             if ln.strip() and not ln.startswith("[")]
    if not lines:
        fail(f"build printed no classpath, see {log_path}")
    cp = lines[-1]
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp)
    with open(STAMP_FILE, "w") as fh:
        fh.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr, flush=True)
    return cp


def spark_home():
    """The Spark installation whose jars the build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        fail("set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def interrupt(signum, frame):
    raise KeyboardInterrupt


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="toy sizes: ~50-job DAGs and sf0.001")
    ap.add_argument("--inject", choices=INJECTIONS,
                    help="plant a fault the correctness checks must catch")
    # the project's generated test tables (TESTDATA.md) live in ~/testdata
    ap.add_argument("--data", default=os.environ.get(
                        "PERFBENCH_DATA", os.path.join(os.path.expanduser("~"), "testdata")),
                    help="directory holding the sf0.01 and sf0.001 parquet sets")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"program sources not found at {PROGRAM_SRC}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    digest = source_digest()
    classpath = build(digest)

    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    nproc = len(os.sched_getaffinity(0))
    java = [
        "java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
        *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
        f"-Djava.io.tmpdir={work}",
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--workdir", work, "--data", args.data, "--threads", str(nproc),
        "--heap", HEAP, "--commit", commit_id(digest),
        "--fingerprints", os.path.join(BENCH_DIR, "fingerprints.json"),
        "--out", os.path.join(BENCH_DIR, "out"),
    ]
    if args.smoke:
        java.append("--smoke")
    if args.inject:
        java += ["--inject", args.inject]
    # setup_s starts here: JVM start onwards, never the one-off build
    java += ["--launched-at-us", str(time.time_ns() // 1000)]
    signal.signal(signal.SIGTERM, interrupt)  # a terminated launcher takes its JVM with it
    proc = subprocess.Popen(java, cwd=work, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_group(proc)
        rc = None
    except KeyboardInterrupt:
        kill_group(proc)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", code=3)
    sys.exit(rc)


if __name__ == "__main__":
    main()
