#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <extract|curate> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program and the benchmark's own code from source with sbt (once
per checkout: the exported classpath is cached under .bench_build/ and
rebuilt when a source file changes), then runs the benchmark JVM on
CORES cores and relays its stdout. Everything the run writes stays in
the checkout: work data under .bench_build/work/ (deleted when the run
ends), the JVM's log and any span file under .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
MAIN = "graft.perfbench.Main"
# Cores the benchmark JVM may use: at most 4, and one fewer than the host
# has, so that Spark's scheduler, GC and JIT threads and any noisy neighbour
# never share a core with a task thread. On a shared 4-vCPU host one
# contended vCPU otherwise turns each stage's task on that vCPU into a
# straggler (measured: `curate` 1.6-2x slower with one vCPU busy at
# local[4], no change at local[3]).
CORES = max(1, min(4, os.cpu_count() or 1) - 1)

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout or interruption kill
    the whole group and wait for it. Returns (returncode, stdout), or None
    on timeout."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            return None
        raise


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(inputs):
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """The benchmark JVM's runtime classpath, building first if sources changed."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source '{need}' not found under {ROOT}", 2)
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ)
    # resolve only from the local dependency caches, as the repository's
    # own test command does, unless the caller configured sbt already
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 3)
    with open(log, "w") as err:
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=err)
        if r is None:
            fail(f"build exceeded {BUILD_TIMEOUT_S}s (log: {log})", 3)
        err.write(r[1])
    lines = [l for l in r[1].splitlines() if l.strip()]
    if r[0] != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed with code {r[0]} (log: {log})", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    # a SIGTERM unwinds like Ctrl-C, so that run_group kills the child group
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    cp = classpath()
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    os.makedirs(work, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-XX:ActiveProcessorCount={CORES}",
           f"-Djava.io.tmpdir={work}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, MAIN, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--traces", os.path.join(BUILD, "traces")]
    log = os.path.join(BUILD, "logs", f"{run_id}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)

    # the program reads SPARK_GRAFT_* switches (e.g. SPARK_GRAFT_HASH picks
    # CurateMain's signature hash); the benchmark measures the defaults, and
    # the traced curate iteration, which calls the stages itself, relies on it
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}

    t0 = time.time()
    try:
        with open(log, "w") as err:
            r = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stderr=err, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s (log: {log})", 4)
    lines = [l for l in r[1].splitlines() if l.strip()]
    if r[0] != 0 or not lines:
        fail(f"benchmark JVM exited with code {r[0]} (log: {log})", 5)
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace == "1")
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}", 6)
    for l in lines[:-1]:
        print(l)
    print(json.dumps({"wall_s": round(time.time() - t0, 3), "log": os.path.relpath(log, ROOT)}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
