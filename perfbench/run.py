#!/usr/bin/env python3
"""Run one benchmark workload against the engine checked out beside this
directory.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Each run is one JVM at local[nproc]
with a pretouched heap; all files it writes stay under perfbench/.
The last line of standard output is the JSON result.
"""
import argparse
import fcntl
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
CLASSES = TARGET / "scala-2.13" / "classes"
STAMP = TARGET / "bench-build.stamp"
HEAP_MB = 2048
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE_SRC, HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(tmp):
    stamp = source_stamp()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    # never resolve over the network; keep sbt's scratch files in the checkout
    opts += ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 3)
    STAMP.write_text(stamp)
    print(f"perfbench: build took {time.time() - t0:.1f} s", file=sys.stderr)


def mem_available_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    return 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    if not (ENGINE_SRC / "graft").is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not (pathlib.Path(spark_home) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark 4 installation")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")

    TARGET.mkdir(exist_ok=True)
    tmp = TARGET / "tmp"
    tmp.mkdir(exist_ok=True)
    with open(TARGET / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build(tmp)

    # a run under memory pressure measures the host, not the engine
    need = HEAP_MB + 1024
    for _ in range(30):
        if mem_available_mb() >= need:
            break
        time.sleep(1)
    else:
        fail(f"only {mem_available_mb()} MB available, need {need} MB", 4)

    work = HERE / "work" / f"run-{os.getpid()}"
    out = HERE / "out"
    work.mkdir(parents=True, exist_ok=True)
    out.mkdir(exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{CLASSES}{os.pathsep}{pathlib.Path(spark_home) / 'jars' / '*'}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work), "--out", str(out)]
    env = dict(os.environ)
    # Spark prefers these over spark.local.dir; keep shuffle files in the work dir
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env.pop("SPARK_EXECUTOR_DIRS", None)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    last = None
    try:
        deadline = time.time() + JVM_TIMEOUT_S

        def on_alarm(*_):
            raise TimeoutError
        signal.signal(signal.SIGALRM, on_alarm)
        signal.alarm(JVM_TIMEOUT_S)
        for line in proc.stdout:
            line = line.rstrip("\n")
            if last is not None:
                print(last, flush=True)
            last = line
        signal.alarm(0)
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except (TimeoutError, subprocess.TimeoutExpired):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload {a.workload} exceeded {JVM_TIMEOUT_S} s", 5)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        if last is not None:
            print(last, flush=True)
        fail(f"workload {a.workload} exited with {code}", 1)
    if last is None or not last.startswith("{"):
        fail("workload printed no result", 1)
    print(last, flush=True)


if __name__ == "__main__":
    main()
