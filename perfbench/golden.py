"""Record the oracle answers of ``pipeline_heavy``.

    python3 perfbench/golden.py

Runs each query's DuckDB oracle (``hdp2_5_hive_spark.oracle``) on the
workload's input tables and writes their digests, with a fingerprint of
those tables, to ``perfbench/golden/pipeline_heavy.json``. Some oracles
take tens of seconds, so runs reuse the recorded digests while the
fingerprint matches and fall back to running the oracle otherwise. The
engine's own answer, taken the way the workload takes it (parquet
written, read back), is recorded next to each oracle digest so a known
mismatch is visible in the file.
"""

import json
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import common as C  # noqa: E402
import pipeline_heavy as P  # noqa: E402


def main() -> int:
    work = C.prepare("golden")
    sf_dir = C.data_dir(P.SF)
    from hdp2_5_hive_spark.oracle import connect_oracle
    from hdp2_5_hive_spark.queries import all_queries

    qs, con = all_queries(), connect_oracle(sf_dir)
    spark = C.start_session("perfbench-golden")
    out = {}
    for name in P.QUERIES:
        t = time.perf_counter()
        d, n = P.oracle_digest(con, qs[name].oracle)
        path = str(work / "out" / name)
        qs[name].fn(spark, sf_dir).write.mode("overwrite").parquet(path)
        sd, sn = P.written_digest(spark, path)
        out[name] = {"oracle_digest": d, "oracle_rows": n, "engine_digest": sd,
                     "engine_rows": sn, "match": sd == d}
        print(f"{name}: oracle {n} rows, engine {sn} rows, match={sd == d} "
              f"({time.perf_counter() - t:.1f}s)", file=sys.stderr)
    spark.stop()
    P.GOLDEN.write_text(json.dumps(
        {"sf": P.SF, "data": P.data_fingerprint(sf_dir), "queries": out},
        indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
