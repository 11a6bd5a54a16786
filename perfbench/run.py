"""Benchmark entry point.

    python3 perfbench/run.py --workload <olap_serve|pipeline_heavy|etl_write>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one report line (every metric that
applies to the workload, with units, sample counts and the environment)
and, last, the result line: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. Names and units come from
BENCHMARK.json. Exits non-zero, printing no result, when the engine
is missing or a run cannot complete.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("olap_serve", "pipeline_heavy", "etl_write")
ENGINE = ("hdp2_5_hive_spark/__init__.py", "scripts/hs2_server.py")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in ENGINE if not (ROOT / p).is_file()]
    if missing:
        print(f"engine not found in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(HERE), str(ROOT)]

    import common as C

    tracer = C.Tracer(bool(args.trace))
    mod = importlib.import_module(args.workload)
    report, work = mod.run(args.seed, args.seconds, bool(args.trace), T0, tracer)
    tracer.dump(work / "spans.json")

    sf_dir = C.data_dir(mod.SF)
    report["trace"] = args.trace
    report["environment"] = C.environment(
        report.pop("env_conf", {}).get("spark.driver.memory")
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "engine default"),
        {"sf_dir": sf_dir, "bytes": C.dir_bytes(sf_dir)},
    )
    if args.trace:  # a layer the workload does not touch reports 0
        metrics = {m["name"]: {"value": float(report["per_layer"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(report["end_to_end"][m["name"]]["value"]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    result = {"correct": report["failed"] == 0, "attempted": report["attempted"],
              "failed": report["failed"], "metrics": metrics}
    C.emit(result, report)
    return 0


if __name__ == "__main__":
    import signal

    # SIGTERM (a caller's timeout) unwinds like an exception, so the
    # server and Spark processes this run started are still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = main()
    finally:
        if "common" in sys.modules:
            sys.modules["common"].reap_children()
    sys.exit(rc)
