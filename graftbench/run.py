#!/usr/bin/env python3
"""Run one graftbench workload and print its result as the last line.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and
the benchmark from source with sbt (graftbench/build.sbt compiles the
engine one directory up); later calls reuse the build while the
sources are unchanged. Each run is a fresh JVM whose every file, the
archives, the Derby store, the lake and the engine's temp snapshots,
goes under one per-run directory that is deleted at exit. Span files
and reports of each run land in graftbench/out/.

Exit codes: 0 success, 1 an output check failed, 2 bad usage or no
engine sources to build, 3 build failed, 4 the run produced no valid
result, 5 timeout.
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
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "graftbench.classpath")
STAMP_FILE = os.path.join(BUILD_DIR, "graftbench.stamp")
WORKLOADS = ["odns-daily-jdbc", "odns-backlog-lake", "query-mix"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=subprocess.PIPE):
    """Run cmd in its own process group; kill the group on timeout or
    interrupt and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=None,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    want = stamp()
    if os.path.isfile(CLASSPATH_FILE) and os.path.isfile(STAMP_FILE):
        with open(STAMP_FILE) as fh:
            if fh.read().strip() == want:
                with open(CLASSPATH_FILE) as cp:
                    return cp.read().strip()
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        sys.exit(3)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "compile", "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S)
    if code != 0:
        if out:
            sys.stderr.write(out[-20000:])
        log("build failed" if code is not None else "build timed out")
        sys.exit(3)
    lines = [l.strip() for l in out.splitlines() if l.strip() and not l.startswith("[")]
    cp = lines[-1] if lines else ""
    if "scala-library" not in cp:
        log("could not read the runtime classpath from sbt")
        sys.exit(3)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP_FILE, "w") as fh:
        fh.write(want + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def valid(result):
    """The result line's shape; graftbench.Main takes the metric list
    from BENCHMARK.json and fails the run when one is missing."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return "result keys"
    bad = [k for k, v in result["metrics"].items() if not isinstance(v.get("value"), (int, float))]
    if bad:
        return f"metrics without a value: {bad}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="print the query-mix expected values instead of measuring")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no engine sources under {ROOT}/src/main/scala/graft; nothing to measure")
        sys.exit(2)
    cp = build()

    run_dir = os.path.join(HERE, "work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)

    def cleanup(*_):
        shutil.rmtree(run_dir, ignore_errors=True)
    signal.signal(signal.SIGTERM, lambda *_: (cleanup(), sys.exit(143)))

    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--bench-dir", HERE, "--work-dir", run_dir, "--out-dir", out_dir,
              "--data-dir", os.path.join(HERE, "data", "sf0.01")])
    if args.record_expected:
        cmd.append("--record-expected")
    try:
        code, out = run_group(cmd, run_dir, RUN_TIMEOUT_S, env=env)
    finally:
        cleanup()
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(5)
    lines = [l for l in out.splitlines() if l.strip()]
    if args.record_expected:
        print("\n".join(lines))
        sys.exit(code)
    try:
        result = json.loads(lines[-1])
        problem = valid(result)
    except (IndexError, ValueError, AttributeError) as e:
        result, problem = None, f"unparseable last line ({e})"
    if problem:
        sys.stderr.write("\n".join(lines[-5:]) + "\n")
        log(f"no valid result: {problem}")
        sys.exit(4)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    sys.exit(0 if code == 0 and result["failed"] == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
