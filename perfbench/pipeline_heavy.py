"""``pipeline_heavy``: one caller in a closed loop runs the registered
curation queries, each from ``fn(spark, sf)`` to the last row written.

One pass over all queries is the pipeline a batch user waits for, and
the latency sample: single cold-ish queries spread 10-20% run to run on
a 4-core host, the sum over a pass far less. Query latencies are in the
report."""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from pathlib import Path

import common as C

SF = "0.01"
QUERIES = (
    "dedup_components",
    "graph_pagerank_hosts",
    "retrieval_rm3_expansion",
    "dedup_jaccard_prefix",
    "dedup_simhash",
    "corpus_clean_v9",
    "feature_winsorize",
    "dedup_embedding_cosine",
)
WARMUP_QUERY = "q1_pricing_summary"
GOLDEN = Path(__file__).resolve().parent / "golden" / "pipeline_heavy.json"


def digest(cols, rows) -> str:
    from hdp2_5_hive_spark.oracle import rows_canon

    body = "\n".join(json.dumps(r) for r in rows_canon(list(cols), rows))
    return hashlib.sha256(body.encode()).hexdigest()


def data_fingerprint(sf_dir: str) -> dict[str, str]:
    out = {}
    for f in sorted(Path(sf_dir).glob("*.parquet")):
        out[f.name] = hashlib.sha256(f.read_bytes()).hexdigest()
    return out


def oracle_digest(con, sql: str) -> tuple[str, int]:
    rel = con.execute(sql)
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    return digest(cols, rows), len(rows)


def expected(sf_dir: str) -> dict[str, dict]:
    """Oracle answers: the recorded golden file when it was made from
    these very input files, otherwise the DuckDB oracle, run now."""
    if GOLDEN.exists():
        gold = json.loads(GOLDEN.read_text())
        if gold["data"] == data_fingerprint(sf_dir):
            return gold["queries"]
    from hdp2_5_hive_spark.oracle import connect_oracle
    from hdp2_5_hive_spark.queries import all_queries

    con, qs = connect_oracle(sf_dir), all_queries()
    out = {}
    for name in QUERIES:
        d, n = oracle_digest(con, qs[name].oracle)
        out[name] = {"oracle_digest": d, "oracle_rows": n}
    con.close()
    return out


def written_digest(spark, path: str) -> tuple[str, int]:
    df = spark.read.parquet(path)
    rows = [tuple(r) for r in df.collect()]
    return digest(df.columns, rows), len(rows)


def run(seed: int, seconds: float, trace: bool, t0: float, tracer) -> tuple[dict, Path]:
    work = C.prepare("pipeline_heavy")
    sf_dir = C.data_dir(SF)
    from hdp2_5_hive_spark.queries import all_queries
    from hdp2_5_hive_spark.queries.registry import tables_for

    a = time.perf_counter()
    spark = C.start_session("perfbench-pipeline")
    b = time.perf_counter()
    tables_for(spark, sf_dir)
    c = time.perf_counter()
    qs = all_queries()
    # untimed warm-up: one registered SQL query pays the session's
    # first-job costs; the curation queries themselves stay cold, as in
    # a fresh batch job
    qs[WARMUP_QUERY].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    d = time.perf_counter()
    setup_layers = {"session.get_session_s": b - a, "catalog.register_views_s": c - b,
                    "queries.warmup_s": d - c}
    conf = dict(spark.sparkContext.getConf().getAll())
    probe = C.StatusProbe(spark) if trace else None
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    setup_s = time.perf_counter() - t0

    rng = random.Random(seed)
    ops: list[dict] = []
    passes: list[float] = []
    t_begin = time.perf_counter()
    while time.perf_counter() - t_begin < seconds:
        t_pass = time.perf_counter()
        k = rng.randrange(len(QUERIES))
        for name in QUERIES[k:] + QUERIES[:k]:
            op = {"id": len(ops), "query": name,
                  "path": str(work / "out" / f"{len(ops)}_{name}")}
            tracer.set_op(op["id"])
            try:
                snap0 = probe.snapshot() if trace else None
                t_a = time.perf_counter()
                with tracer.span("queries.build"):
                    df = qs[name].fn(spark, sf_dir)
                t_b = time.perf_counter()
                if trace:
                    snap1 = probe.snapshot()
                    op.update(C.catalyst_phases(df))
                t_c = time.perf_counter()
                with tracer.span("exec.write"):
                    df.write.mode("overwrite").parquet(op["path"])
                t_d = time.perf_counter()
                op["latency_s"] = (t_b - t_a) + (t_d - t_c)
                op["queries.build_s"] = t_b - t_a
                if trace:
                    op.update(C.exec_delta(snap0, probe.snapshot(), t_d - t_c, cores))
                    op["queries.build_jobs"] = snap1["jobs"] - snap0["jobs"]
                    op["exec.wall_core_s"] = op["latency_s"] * cores
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                op["error"] = f"{type(exc).__name__}: {exc}"
            ops.append(op)
        passes.append(time.perf_counter() - t_pass)
    measured = time.perf_counter() - t_begin
    rss = C.peak_rss_mb(os.getpid())

    # answers are checked after the measured region
    want = expected(sf_dir)
    failed = 0
    for op in ops:
        if "error" not in op:
            got, n = written_digest(spark, op["path"])
            if got != want[op["query"]]["oracle_digest"]:
                op["error"] = (f"wrong answer: {n} rows, oracle "
                               f"{want[op['query']]['oracle_rows']}")
        failed += "error" in op
    spark.stop()
    ok = [op for op in ops if "error" not in op]
    lats = [op["latency_s"] for op in ok]
    tl = C.tail(passes)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": C.p50(passes),
        "latency_tail_s": tl["value"],
        "throughput_ops_s": len(ok) / measured,
        "peak_rss_mb": rss,
        "failed_frac": failed / len(ops),
    }
    layers = {}
    if trace:
        layers = C.summarize(ok)
        layers.update(setup_layers)
        layers["layer_self_s"] = C.self_times(tracer.by_op())
        layers["per_query"] = {
            op["query"]: {k: op.get(k) for k in (
                "latency_s", "queries.build_s", "queries.build_jobs", "exec.jobs",
                "exec.stages", "exec.tasks", "cache.bytes_held_after",
                "cache.rdds_held_after")}
            for op in ok}
    report = {
        "workload": "pipeline_heavy", "seed": seed, "sf": SF,
        "measured_s": measured, "attempted": len(ops), "failed": failed,
        "errors": sorted({op["error"][:200] for op in ops if "error" in op}),
        "latency_tail": tl, "passes_s": passes, "setup": setup_layers,
        "query_latency_p50_s": C.p50(lats), "query_latency_tail": C.tail(lats),
        "per_query_latency_s": {op["query"]: op.get("latency_s") for op in ops},
        "env_conf": {"spark.driver.memory": conf.get("spark.driver.memory")},
        "end_to_end": C.describe(e2e, len(passes), {
            "setup_s": 1, "peak_rss_mb": 1, "throughput_ops_s": len(ok),
            "failed_frac": len(ops)}),
        "per_layer": layers,
    }
    return report, work
