"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workloads web_decoded,web_stored --seeds 1-10 [--trace 0] [--out runs.jsonl]

For every workload and metric prints the median and the distance between the
first and third quartile (statistics.quantiles(values, n=4)) as a share of the
median -- the steadiness figure BENCHMARK.json's bounds are judged against.
Each run's result line is appended to --out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    worst = 0
    for w in args.workloads.split(","):
        values = {}
        for s in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(seconds), "--trace", str(args.trace)]
            t0 = time.time()
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = r.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if r.returncode == 0 and lines else None
            if res is None or not res["correct"]:
                print(f"{w} seed {s}: FAILED (exit {r.returncode})", flush=True)
                worst = 1
                continue
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "result": res}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s} ({wall:.0f}s): " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        for k, vs in values.items():
            vs = [v for v in vs if v is not None]
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            share = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None else (" OK" if share < b / 3 else " WIDE")
            print(f"  {w} {k}: median {med:.6g} iqr/median {share:.4f} bound {b}{flag}", flush=True)
    return worst


if __name__ == "__main__":
    sys.exit(main())
