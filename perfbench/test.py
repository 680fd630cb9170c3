"""The benchmark's own tests (perfbench.SelfTest): input determinism, the
digest the output checks rely on, and that a wrong or throwing op lowers
ok_share. Run from the repository root:

    python3 perfbench/test.py
"""
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    try:
        classpath = build.build()
        jopts = run.build_java_options()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.build_dir(), "work", f"test-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return subprocess.run(run.java_cmd(classpath, jopts, work, "perfbench.SelfTest",
                                           ["--workload", "selftest", "--seed", "0", "--seconds", "0",
                                            "--trace", "0"]),
                              cwd=work, timeout=run.DEADLINE_S).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
