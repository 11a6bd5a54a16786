"""Capacity sweep of ``olap_serve``: where the knee lies on this host.

    python3 perfbench/sweep.py --rates 2,4,6,8,10,12 --seeds 1-2 --seconds 40

Runs ``olap_serve`` once per seed, each in a fresh process, with the
given offered rates in place of ``olap_serve.RATES_QPS`` (one open-loop
phase per rate, then the closed loop). Prints, per rate, the median over
seeds of the p50 and tail latency, whether the backlog grew, and the
closed-loop capacity; the knee is the lowest rate whose tail passes
``olap_serve.LATENCY_LIMIT_S`` or whose backlog grows. ``RATES_QPS``
should put r1 and r2 below the knee and r3 above it.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def child(rates: list[float], seed: int, seconds: float) -> int:
    """One ``run.py`` run of olap_serve with ``rates`` as its phases."""
    import signal

    sys.path[:0] = [str(HERE), str(ROOT)]
    import olap_serve
    import run

    olap_serve.RATES_QPS = tuple(rates)
    sys.argv = ["run.py", "--workload", "olap_serve", "--seed", str(seed),
                "--seconds", str(seconds), "--trace", "0"]
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run.main()
    finally:
        sys.modules["common"].reap_children()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--rates", required=True, help="comma-separated offered rates (1/s)")
    ap.add_argument("--seeds", default="1-2")
    ap.add_argument("--seconds", type=float, default=40.0)
    ap.add_argument("--child", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    rates = [float(r) for r in args.rates.split(",")]
    if args.child is not None:
        return child(rates, args.child, args.seconds)

    lo, _, hi = args.seeds.partition("-")
    reports = []
    for seed in range(int(lo), int(hi or lo) + 1):
        out = subprocess.run(
            [sys.executable, __file__, "--rates", args.rates, "--seconds",
             str(args.seconds), "--child", str(seed)],
            cwd=ROOT, capture_output=True, text=True, timeout=900, check=True,
        ).stdout.strip().splitlines()
        reports.append(json.loads(out[-2])["report"])
    limit = reports[0]["latency_limit_s"]
    rows = []
    for k, rate in enumerate(rates):
        per = [r["per_rate"][f"r{k + 1}"] for r in reports]
        rows.append({
            "offered_qps": rate,
            "latency_p50_s": statistics.median(p["latency_p50_s"] for p in per),
            "latency_tail_s": statistics.median(p["latency_tail_s"]["value"] for p in per),
            "backlog_growing": sum(p["backlog_growing"] for p in per),
            "n": per[0]["n"], "runs": len(per),
        })
    knee = next((r["offered_qps"] for r in rows
                 if r["latency_tail_s"] > limit or r["backlog_growing"]), None)
    for r in rows:
        print(f"{r['offered_qps']:6.2f} qps  p50 {r['latency_p50_s']:7.3f} s  "
              f"tail {r['latency_tail_s']:7.3f} s  backlog growing in "
              f"{r['backlog_growing']}/{r['runs']} runs  (n={r['n']})")
    capacity = statistics.median(r["end_to_end"]["throughput_ops_s"]["value"]
                                 for r in reports)
    print(f"closed-loop capacity {capacity:.3f} 1/s; knee at {knee} qps "
          f"(tail limit {limit} s)")
    print(json.dumps({"rate_sweep": {"seconds": args.seconds, "seeds": args.seeds,
                                     "latency_limit_s": limit, "rates": rows,
                                     "closed_loop_capacity_ops_s": capacity,
                                     "knee_qps": knee}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
