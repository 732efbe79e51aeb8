#!/usr/bin/env python3
"""Build the engine plus the benchmark harness from the checkout, then run
one workload and relay its report. Run from the root of a checkout:

    python3 perfbench/run.py --workload mr_facade --seed 1 --seconds 18 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Other modes:

    python3 perfbench/run.py --self-test           # harness self-test
    python3 perfbench/run.py --write-golden FILE [--verified DIR]

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("mr_facade", "stream_store")
# The engine's fixed sf0.1 table set (TESTDATA.md); SPARK_GRAFT_SF_DIR
# overrides it, as it does for graft.Bench.
DEFAULT_SF_DIR = "/root/testdata/sf0.1"
TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation",
          "region", "events", "documents", "embeddings")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170     # hard stop for the JVM
DEADLINE_S = 140        # the JVM starts no op after this many seconds
HEAP = "2g"
# local[N]: two task threads leave the other cores of a 4-vCPU host to the
# driver thread, the JIT compilers, GC and the listener bus, which at
# local[4] compete with the tasks and make whole runs fast or slow.
CPUS = min(2, os.cpu_count() or 1)
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build: engine sources and the harness."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), HARNESS]
    for tree in trees:
        for d, dirs, files in os.walk(tree):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HARNESS, "project", "build.properties"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness with sbt unless the sources are unchanged."""
    classes = os.path.join(out, "harness", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp(root)
    if os.path.isfile(os.path.join(classes, "perfbench", "Main.class")) and \
            os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        # sbt's global state goes under the checkout's build directory too
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           f"-Dsbt.global.base={out}/sbt-global",
                           "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData", "compile"],
                          HARNESS, fh, subprocess.STDOUT, BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (rc {rc}); log in {log}", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def java_cmd(classes, work, main, args):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at the Spark distribution")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # the heap is fixed and touched up front, so the resident size moves
    # with native memory rather than with how much of the heap a run used
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}",
            "-cp", f"{classes}:{spark_home}/jars/*",
            main, *args]


def run_group(cmd, cwd, out, err, timeout):
    """Run `cmd` in its own process group and wait for it; on timeout, or
    when this script is told to stop, kill the whole group (sbt and java
    fork children) and wait for it. Returns (rc, stdout), stdout being
    None after a timeout or when `out` is not a pipe."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=err,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    stops = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
    previous = {s: signal.signal(s, stop) for s in stops}
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        out = None
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    return proc.returncode, out


def run_jvm(cmd, work, timeout):
    """Run the JVM with a hard timeout; relay its stdout, keep its stderr."""
    err_path = os.path.join(work, "jvm.log")
    with open(err_path, "w") as err:
        rc, out = run_group(cmd, work, subprocess.PIPE, err, timeout)
    with open(err_path) as fh:
        tail = "".join(fh.readlines()[-30:])
    return rc, out, tail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--write-golden", metavar="FILE")
    ap.add_argument("--verified", metavar="DIR",
                    help="with --write-golden: a graft.Verify output that passed the oracle")
    a = ap.parse_args()
    if not (a.self_test or a.write_golden or a.workload):
        ap.error("one of --workload, --self-test or --write-golden is required")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail("run from the root of a checkout of the engine (build.sbt and src/ not found)")
    data = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    missing = [t for t in TABLES if not os.path.exists(os.path.join(data, f"{t}.parquet"))]
    if missing and not a.self_test:
        fail(f"tables {missing} not found under {data} (set SPARK_GRAFT_SF_DIR)")

    out = os.path.join(root, ".bench_build")
    classes = build(root, out)
    work = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.self_test:
            cmd = java_cmd(classes, work, "perfbench.SelfTest", [])
        elif a.write_golden:
            cmd = java_cmd(classes, work, "perfbench.Main", [
                "--write-golden", os.path.abspath(a.write_golden), "--data", data,
                "--cpus", str(CPUS)] +
                (["--verified", os.path.abspath(a.verified)] if a.verified else []))
        else:
            args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", data, "--golden", os.path.join(HERE, "golden.tsv"),
                    "--cpus", str(CPUS), "--deadline-s", str(DEADLINE_S)]
            cmd = java_cmd(classes, work, "perfbench.Main", args)
        timeout = None if a.write_golden else RUN_TIMEOUT_S
        rc, stdout, tail = run_jvm(cmd, work, timeout)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if stdout is None:
        sys.stderr.write(tail)
        fail(f"the JVM did not finish within {RUN_TIMEOUT_S} s", 1)
    lines = stdout.rstrip("\n").split("\n")
    if rc != 0 or (a.workload and not lines[-1].startswith("{")):
        sys.stdout.write("\n".join(x for x in lines if not x.startswith("{")) + "\n")
        sys.stderr.write(tail)
        fail(f"the JVM exited with code {rc}", 1)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
