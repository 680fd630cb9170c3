"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (see build.py), then runs one
JVM that drives Spark `local[<cores>]` through the workload in a closed loop:
one op at a time, back to back, for `--seconds`. The last line of standard
output is the result JSON. `--trace 1` runs the separate traced pass and
prints the per-layer metrics instead of the end-to-end ones; its spans are
written as JSONL under `<build>/traces/`.

The JVM gets the javaOptions of the repository's build.sbt, except the heap,
which is pinned from MemTotal. All scratch data (inputs, sink targets, Spark
local dirs, java.io.tmpdir) lives in a fresh directory under `<build>/work/`
that is removed when the run ends.

After each build, one untimed training run records the classes the benchmark
loads into a class-data-sharing archive (`<build>/classes.jsa`); later runs map
it, which takes seconds off JVM and Spark start-up in every run's set-up. If
the archive cannot be made the run exits 2 without a result, so every
measured run starts the same way.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("web_decoded", "web_stored", "cityjson_city")
DEADLINE_S = 170


def heap():
    """Same rule as the repository's tier-1 test command: half of MemTotal,
    clamped to [2g, 8g]. The heap is pinned (-Xms = -Xmx) and generation
    sizes are fixed (-XX:-UseAdaptiveSizePolicy): with adaptive sizing the
    collector kept growing eden for ~40 s of ops, so op times drifted down
    by a quarter within a run and short runs disagreed."""
    with open("/proc/meminfo") as f:
        kb = int(re.search(r"^MemTotal:\s+(\d+)", f.read(), re.M).group(1))
    return f"{min(8, max(2, kb // 2097152))}g"


def build_java_options():
    """The static javaOptions of build.sbt: --add-opens packages plus every
    -D/-XX literal. The interpolated -Xmx is replaced by heap()."""
    path = os.path.join(build.ROOT, "build.sbt")
    if not os.path.exists(path):
        raise build.BuildError(f"missing {path}")
    text = open(path).read()
    opts = []
    for pkg in re.findall(r'"(java\.base/[^"]+)"', text):
        opts += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    opts += re.findall(r'"(-D[^"$]+|-XX:[^"$]+)"', text)
    return opts


def java_cmd(classpath, jopts, work, main_class, args, extra=()):
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    traces = os.path.join(build.build_dir(), "traces")
    return (["java"] + list(extra) +
            # -XX:-UsePerfData: no hsperfdata file outside the checkout
            [f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dlog4j2.configurationFile={log4j}"] +
            jopts +
            ["-cp", classpath, main_class] + args + ["--work", work, "--traces", traces])


def class_archive(classpath, jopts):
    """The class-data-sharing archive for this build and JVM command line,
    made by a training run if missing."""
    out = build.build_dir()
    jsa = os.path.join(out, "classes.jsa")
    key = hashlib.sha256("\0".join([classpath] + jopts).encode())
    for part in classpath.split(os.pathsep):
        if part.endswith(".jar") and os.path.exists(part + ".stamp"):
            key.update(open(part + ".stamp", "rb").read())
    stamp = key.hexdigest()
    if os.path.exists(jsa) and os.path.exists(jsa + ".stamp") and open(jsa + ".stamp").read() == stamp:
        return jsa
    work = os.path.join(out, "work", f"train-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(classpath, jopts, work, "perfbench.Main",
                   ["--workload", "web_stored", "--seed", "0", "--seconds", "0", "--trace", "0"],
                   [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
    print("[perfbench] training run for the class-data-sharing archive", file=sys.stderr, flush=True)
    try:
        subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(jsa + ".tmp"):
        raise build.BuildError("the training run made no class-data-sharing archive")
    os.replace(jsa + ".tmp", jsa)
    with open(jsa + ".stamp", "w") as f:
        f.write(stamp)
    return jsa


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classpath = build.build()
        jopts = build_java_options()
        jsa = class_archive(classpath, jopts)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    t0 = time.time()

    work = os.path.join(build.build_dir(), "work", f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(classpath, jopts, work, "perfbench.Main",
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace)],
                   [f"-XX:SharedArchiveFile={jsa}"])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(max(1.0, DEADLINE_S - (time.time() - t0)), proc.kill)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            if line.startswith("{"):
                last = line.strip()
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if last is not None:
        print(last, flush=True)
    if proc.returncode != 0 or last is None:
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
