#!/usr/bin/env python3
"""graft benchmark: build graft from this checkout, run one workload in
one local[nproc] Spark JVM, print one JSON result line.

    python3 graftbench/run.py --workload archive_stream --seed 1 \
        --seconds 5 --trace 0
    python3 graftbench/run.py --selftest

Every path is resolved from this file's directory. The build is sbt,
offline, into graftbench/target; it is skipped while the sources are
unchanged. Each run keeps its scratch files in one private directory
under graftbench/.runs and deletes it at exit. See README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
LIB_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BENCHMARK_JSON = os.path.join(REPO, "BENCHMARK.json")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "graftbench.stamp")
WORKLOADS = ("archive_stream", "commerce_batch")
BUILD_TIMEOUT_S = 840
# one run's cap: a set-up allowance plus three times the measured
# length (165 s at the benchmark's 5 s); a killed run prints no result
SETUP_ALLOWANCE_S = 150
# JDK 17 module opens Spark needs outside spark-submit (the root
# build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def kill_child():
    """Stop the child's whole process group and wait for it."""
    global _child
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()
    _child = None


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = _child.communicate(timeout=timeout)
        return _child.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        return None, None
    finally:
        kill_child()


def sources():
    files = []
    for root in (LIB_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft plus the benchmark with sbt, offline, unless the
    class directory already matches the sources."""
    want = source_hash()
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.exists(STAMP):
            with open(STAMP) as fh:
                if fh.read().strip() == want:
                    return True
        sbt = shutil.which("sbt") or next(
            (p for p in ("/opt/sbt/bin/sbt", "/usr/bin/sbt") if os.path.exists(p)), None)
        if sbt is None:
            log("sbt not found")
            return False
        # the Tier-1 offline flags, set here so a bare environment builds;
        # sbt's temp files stay in the checkout
        tmp = os.path.join(TARGET, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        cmd = [sbt, "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.server.autostart=false",
               f"-Dsbt.global.base={os.path.join(HERE, '.sbt-global')}",
               "compile"]
        log("building graft and the benchmark with sbt (offline)")
        t0 = time.time()
        code, _ = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                            stdin=subprocess.DEVNULL, stdout=sys.stderr)
        if code != 0:
            log(f"build failed (exit {code})")
            return False
        with open(STAMP, "w") as fh:
            fh.write(want + "\n")
        log(f"built in {time.time() - t0:.0f} s")
        return True


def mem_total_mb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def java_cmd(scratch, main, args):
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else "java"
    # a fifth of physical memory, 1-4 GB: one run fits a 16 GB host
    # beside whatever else it runs. A fixed heap and young generation
    # keep the peak resident set from following the collector's
    # resizing decisions, which differ from run to run.
    heap = max(1024, min(4096, mem_total_mb() // 5))
    log(f"heap {heap} MB, young generation {heap // 4} MB")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *opens, f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(scratch, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.driver.host=127.0.0.1",
            "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            main, *args]


def run_jvm(scratch, main, args, timeout):
    """Run a benchmark main; returns (exit code, stdout). Its stderr
    (Spark's log) goes to a file in the scratch dir, shown on failure."""
    err_path = os.path.join(scratch, "jvm.stderr")
    with open(err_path, "wb") as err:
        code, out = run_child(java_cmd(scratch, main, args), timeout,
                              cwd=scratch, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, stderr=err)
    with open(err_path, errors="replace") as fh:
        err_lines = fh.read().splitlines()
    for line in err_lines:
        if line.startswith(("GRAFTBENCH_", "CHECK FAILED")):
            print(line, file=sys.stderr)
    if code != 0:
        sys.stderr.write("\n".join(err_lines[-60:]) + "\n")
    return code, (out or b"").decode(errors="replace")


def metric_spec(trace):
    """(name, unit) of every metric a result reports, from BENCHMARK.json:
    the end-to-end ones untraced, the per-layer ones traced."""
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def parse_result(stdout, spec, trace):
    """The JVM's result line with its metrics named and united as
    BENCHMARK.json says. Every end-to-end metric must be measured; a
    per-layer metric the workload never exercises reads 0. A value the
    JVM names but BENCHMARK.json does not is an error."""
    for line in reversed(stdout.splitlines()):
        if line.startswith("GRAFTBENCH_RESULT "):
            res = json.loads(line[len("GRAFTBENCH_RESULT "):])
            break
    else:
        return None
    got = res["metrics"]
    names = [n for n, _ in spec]
    unknown = sorted(set(got) - set(names))
    missing = [] if trace else sorted(set(names) - set(got))
    if unknown or missing:
        log(f"metrics not as BENCHMARK.json lists them: unknown {unknown}, missing {missing}")
        return None
    res["metrics"] = {n: {"value": got.get(n, 0.0), "unit": u} for n, u in spec}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(LIB_SRC):
        log(f"graft's sources are missing ({os.path.relpath(LIB_SRC, os.getcwd())});"
            " run from a full checkout")
        return 2
    if not os.path.isfile(BENCHMARK_JSON):
        log("BENCHMARK.json is missing next to graftbench/")
        return 2
    if not build():
        return 1
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        if a.selftest:
            code, out = run_jvm(scratch, "graftbench.SelfTest", [], SETUP_ALLOWANCE_S)
            sys.stdout.write(out)
            return 0 if code == 0 else 1
        cores = len(os.sched_getaffinity(0))
        code, out = run_jvm(scratch, "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scratch", scratch, "--cores", str(cores)],
            SETUP_ALLOWANCE_S + 3 * a.seconds)
        res = parse_result(out, metric_spec(a.trace), a.trace)
        if code != 0 or res is None:
            log(f"no result (JVM exit {code})")
            return 1
        print(json.dumps(res), flush=True)
        return 0
    finally:
        kill_child()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def _terminate(signum, _frame):
    kill_child()
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    sys.exit(main())
