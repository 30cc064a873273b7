"""Run-to-run spread check: runs a workload once per seed and reports,
for each end-to-end metric, the median and the inter-quartile distance
as a share of the median, against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload cdc --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for s in a.seeds:
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True)
        out = json.loads(r.stdout.strip().splitlines()[-1])
        print(f"seed {s}: correct={out['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        sp = stats.spread(v)
        flag = "ok" if sp <= m["bound"] / 3 or m["name"] == "setup_s" else "WIDE"
        print(f"{m['name']:>18}: median {statistics.median(v):.4g} "
              f"spread {sp:.3f} bound {m['bound']} {flag}")


if __name__ == "__main__":
    main()
