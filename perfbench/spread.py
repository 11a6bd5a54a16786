"""Run-to-run spread and tracing overhead.

    python3 perfbench/spread.py --workload pipeline_heavy --seeds 1-10
    python3 perfbench/spread.py --workload etl_write --seeds 1-3 --overhead

Runs ``run.py`` once per seed, each in a fresh process, and prints for
every end-to-end metric the median over seeds and the distance between
the first and third quartile as a share of the median, next to a third
of the metric's bound in BENCHMARK.json. With ``--overhead`` each seed
also runs traced, and the report gives traced minus untraced medians of
every end-to-end metric (the traced run's report carries them).
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
    ).stdout.strip().splitlines()
    report = json.loads(out[-2])["report"]
    report["result"] = json.loads(out[-1])
    report["wall_s"] = time.perf_counter() - t0
    return report


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--save", help="also write every run's report to this JSON-lines file")
    args = ap.parse_args()
    runs = {0: [], 1: []}
    for seed in seeds(args.seeds):
        for trace in ((0, 1) if args.overhead else (0,)):
            r = run_once(args.workload, seed, args.seconds, trace)
            runs[trace].append(r)
            res = r["result"]
            print(f"seed {seed} trace {trace}: wall={r['wall_s']:.1f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["end_to_end"].items()),
                  flush=True)
    summary = {"workload": args.workload, "seeds": args.seeds, "metrics": {},
               "wall_s_median": statistics.median(r["wall_s"] for r in runs[0])}
    for m in spec["end_to_end"]:
        vals = [r["end_to_end"][m["name"]]["value"] for r in runs[0]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        row = {"median": med, "iqr_share": (q3 - q1) / med, "limit": m["bound"] / 3}
        if args.overhead:
            traced = statistics.median(r["end_to_end"][m["name"]]["value"] for r in runs[1])
            row["traced_minus_untraced"] = traced - med
        summary["metrics"][m["name"]] = row
        flag = "ok" if row["iqr_share"] <= row["limit"] else "WIDE"
        print(f"{m['name']:18s} median {med:10.4g}  iqr/median {row['iqr_share']:.3f}"
              f"  (limit {row['limit']:.3f}) {flag}"
              + (f"  traced-untraced {row['traced_minus_untraced']:+.4g}"
                 if args.overhead else ""))
    print(json.dumps(summary))
    if args.save:
        with open(args.save, "w") as f:
            for r in runs[0] + runs[1]:
                f.write(json.dumps(r) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
