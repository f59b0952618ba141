#!/usr/bin/env python3
"""Run one benchmark workload against the graft library in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from anywhere inside a checkout of the repository. The first run
compiles the library and the benchmark driver with sbt (offline) and caches
the classpath under `.bench_build/perfbench/`; later runs reuse it until a
source file changes. Each run gets its own work directory under
`.bench_build/perfbench/`, holding the corpus, the index stores and Spark's
local and spill directories; it is removed when the run ends, also when the
run fails. The last line printed is the driver's JSON result. The exit code
is 0 when every output was correct, 1 when one was not, 2 on a bad command
line or a checkout without the library, 3 when the build failed and 4 when
the run exceeded its time limit.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["build", "query_scale", "query_warm"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0))


def heap_gb(ncores):
    """Half of physical memory clamped to 2..8 GB (the repository's test
    rule), and at most 1 GB per core."""
    gb = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return max(2, min(gb, 8, max(2, ncores)))


def sources():
    """Every file the build reads, relative to the checkout root."""
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(f for f in files if os.path.isfile(os.path.join(ROOT, f)))


def fingerprint():
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles library + driver once per source state; returns the classpath."""
    os.makedirs(CACHE, exist_ok=True)
    stamp = os.path.join(CACHE, "stamp")
    cp_file = os.path.join(CACHE, "classpath")
    with open(os.path.join(CACHE, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        if os.path.exists(stamp) and os.path.exists(cp_file):
            with open(stamp) as f:
                if f.read() == fp:
                    with open(cp_file) as c:
                        return c.read()
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "compile", "export Runtime/fullClasspath"]
        try:
            out = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                                 capture_output=True, text=True,
                                 timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(3, f"build failed: {e}")
        lines = out.stdout.splitlines()
        cps = [l for l in lines if "scala-2.13/classes" in l and os.pathsep in l
               and not l.startswith("[")]
        if out.returncode != 0 or not cps:
            sys.stderr.write("\n".join(lines[-40:]) + "\n" + out.stderr[-4000:])
            die(3, f"build failed (sbt exit {out.returncode})")
        with open(cp_file, "w") as c:
            c.write(cps[-1].strip())
        with open(stamp, "w") as f:
            f.write(fp)
        return cps[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    if args.seconds < 1:
        die(2, "--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(2, f"{ROOT} holds no graft library checkout (build.sbt, src/main/scala/graft)")

    classpath = build()
    ncores = cores()
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    log_path = os.path.join(CACHE, f"run-{os.getpid()}.log")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb(ncores)}g", f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(ncores)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = None

    def stop(*_):
        raise SystemExit(4)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                    stdout=subprocess.PIPE, stderr=log, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                die(4, f"run exceeded {RUN_TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.strip()]
        if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
            with open(log_path) as log:
                sys.stderr.write(log.read()[-6000:])
            print("\n".join(l for l in lines if not l.startswith("{")))
            die(proc.returncode or 1, f"driver exited {proc.returncode} without a result")
        print("\n".join(lines))
        sys.exit(proc.returncode)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(log_path):
            os.remove(log_path)


if __name__ == "__main__":
    main()
