"""Steadiness tool: run one workload several times and report, for each
end-to-end metric, the median, the quartiles and the spread (quartile
distance over median), next to the bound BENCHMARK.json fixes.

    python3 perfbench/steady.py --workload NAME --seeds 1,2,3,4,5
    python3 perfbench/steady.py --workload NAME --seed 7 --repeat 5

Give --seeds for the contract's check (a new seed per run) and --repeat
for run-to-run noise on one seed. Every run measures BENCHMARK.json's
run_seconds. Run from the repository root. Exits nonzero if any run
fails or is incorrect.
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", help="comma-separated seeds, one run each")
    ap.add_argument("--seed", type=int, help="one seed, run --repeat times")
    ap.add_argument("--repeat", type=int, default=5)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    seeds = ([int(s) for s in args.seeds.split(",")] if args.seeds
             else [args.seed] * args.repeat)
    runs = []
    for seed in seeds:
        t0 = time.monotonic()
        p = subprocess.Popen([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              args.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True)
        try:
            stdout, stderr = p.communicate()
        finally:
            if p.poll() is None:  # terminated ourselves: let run.py stop its JVM
                p.terminate()
                p.wait()
        last = stdout.strip().splitlines()[-1] if stdout.strip() else "{}"
        result = json.loads(last) if last.startswith("{") else {}
        if p.returncode != 0 or not result.get("correct"):
            sys.stderr.write(stderr[-3000:])
            sys.exit(f"run with seed {seed} failed (exit {p.returncode})")
        runs.append({k: v["value"] for k, v in result["metrics"].items()})
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s): "
              + " ".join(f"{k}={v:.4g}" for k, v in runs[-1].items()), flush=True)
    print(f"\n{args.workload}, {len(runs)} runs, {seconds} s each")
    print(f"{'metric':32s} {'q1':>10s} {'median':>10s} {'q3':>10s} {'spread':>8s} {'bound':>6s}")
    for m in bench["end_to_end"]:
        q1, q2, q3, sp = spread([r[m["name"]] for r in runs])
        flag = "" if sp <= m["bound"] / 3 else "  > bound/3"
        print(f"{m['name']:32s} {q1:10.4g} {q2:10.4g} {q3:10.4g} {sp:8.3f} {m['bound']:6.2f}{flag}")


if __name__ == "__main__":
    main()
