"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) and the benchmark (`perfbench/src`)
with the Scala compiler that ships in the Spark distribution's jar directory
($SPARK_HOME/jars, else build.sbt's `unmanagedBase`), so no build tool,
dependency resolution or network is involved. Outputs go to
`$CARGO_TARGET_DIR` (default `.bench_build`) under the checkout root:

    <build>/main/           engine classes, rebuilt when src/main/scala changes
    <build>/bench/          benchmark classes, rebuilt when either side changes
    <build>/engine.jar      engine classes + src/main/resources
    <build>/perfbench.jar   benchmark classes

The classes are jarred because the JVM's class-data-sharing archive (made by
run.py) accepts only jars on the class path. Each output carries a stamp with
the hash of its inputs; a matching stamp skips the step. Run standalone with
`python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars if set, else the jar directory build.sbt's
    `unmanagedBase` names; it must hold the Scala compiler."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
        if m is None:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jar directory with a Scala compiler at {jars} (set SPARK_HOME)")
    return jars


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(paths, salt):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(sources, classpath, out, stamp):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp] + sources
    print(f"[perfbench] compiling {len(sources)} files into {os.path.relpath(out, ROOT)}",
          file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with code {r.returncode}")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def _jar(dirs, out, stamp):
    stamp_file = out + ".stamp"
    if os.path.exists(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    cmd = ["jar", "cf", out + ".tmp"]
    for d in dirs:
        cmd += ["-C", d, "."]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise BuildError(f"jar failed for {out}")
    os.replace(out + ".tmp", out)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Compile what changed; return the runtime classpath."""
    main_sources = _sources(MAIN_SRC)
    bench_sources = _sources(BENCH_SRC)
    if not main_sources:
        raise BuildError(f"no engine sources under {MAIN_SRC}")
    if not bench_sources:
        raise BuildError(f"no benchmark sources under {BENCH_SRC}")
    jars = os.path.join(spark_jars(), "*")
    out = build_dir()
    main_out = os.path.join(out, "main")
    bench_out = os.path.join(out, "bench")
    main_stamp = _digest(main_sources, jars)
    _compile(main_sources, jars, main_out, main_stamp)
    bench_stamp = _digest(bench_sources, main_stamp)
    _compile(bench_sources, os.pathsep.join([main_out, jars]), bench_out, bench_stamp)
    resources = sorted(os.path.join(d, f) for d, _, fs in os.walk(MAIN_RES) for f in fs)
    engine_jar = os.path.join(out, "engine.jar")
    bench_jar = os.path.join(out, "perfbench.jar")
    _jar([main_out, MAIN_RES], engine_jar, _digest(resources, main_stamp))
    _jar([bench_out], bench_jar, bench_stamp)
    return os.pathsep.join([bench_jar, engine_jar, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
