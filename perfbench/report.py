"""Run every workload once untraced and once traced and print each
metric with its unit and sample count, then the traced self-check.

    python3 perfbench/report.py [--seed N] [--seconds S]

Exits 1 when a run is not correct or a self-check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    context_line, result_line = out.stdout.strip().splitlines()[-2:]
    return json.loads(context_line)["context"], json.loads(result_line)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    ok = True
    print(f"{'workload':16s} {'metric':28s} {'value':>14s} {'unit':8s} samples")
    for w in bench["workloads"]:
        name = w["name"]
        ctx, res = run(name, args.seed, seconds, 0)
        ok &= res["correct"]
        frac = res["failed"] / res["attempted"]
        print(f"{name:16s} {'failed_frac':28s} {frac:14.4g} {'ratio':8s} {res['attempted']}")
        for m, v in res["metrics"].items():
            n = ctx["samples"].get(m, "")
            print(f"{name:16s} {m:28s} {v['value']:14.4g} {v['unit']:8s} {n}")
        n = ctx["samples"]["query_s.p50"]
        print(f"{name:16s} {'query_s.p90':28s} {ctx['query_s.p90']:14.4g} {'s':8s} {n}")
        _, traced = run(name, args.seed, seconds, 1)
        ok &= traced["correct"]
        for m, v in traced["metrics"].items():
            print(f"{name:16s} {m:28s} {v['value']:14.4g} {v['unit']:8s} traced")
        with open(os.path.join(
            ROOT, ".perfbench", "out", f"{name}-seed{args.seed}-trace1.json"
        )) as f:
            check = json.load(f)["selfcheck"]
        print(f"{name:16s} self-check {json.dumps(check)}")
        ok &= check["coverage_ok"] and check["build_share_ok"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
