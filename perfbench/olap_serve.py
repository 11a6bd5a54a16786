"""``olap_serve``: HiveServer2 clients against ``scripts/hs2_server.py``
running as its own process, first in an open loop at three offered
rates (latency under load), then in a closed loop on every connection
(capacity, ``throughput_ops_s``)."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import queue
import random
import re
import subprocess
import sys
import threading
import time
from pathlib import Path

import common as C
from statements import STATEMENTS, oracle_sql

SF = "0.01"
# r1 < r2 < r3 around the knee of a 4-core host: r1 and r2 below it, r3
# above it, where the backlog grows and the tail passes the limit (the
# sweep of sweep.py is in baseline.json, "rate_sweep": closed-loop
# capacity about 10/s, backlog growing from 12/s).
RATES_QPS = (4.0, 8.0, 20.0)
LATENCY_LIMIT_S = 2.0  # tail limit for max_ok_rate_qps (frozen)
# share of the run given to the closed-loop capacity phase; the three
# open-loop phases share the rest
CLOSED_SHARE = 0.4
CONNECTIONS = C.nproc()
FETCH_ROWS = 1000
WARMUP_PASSES = 1


def canon_rows(rows) -> str:
    """Order-insensitive digest of a result, compared by position."""
    from hdp2_5_hive_spark.oracle import canon

    body = sorted(json.dumps([canon(v) for v in r]) for r in rows)
    return hashlib.sha256("\n".join(body).encode()).hexdigest()


def expected_answers(sf_dir: str, names) -> dict[str, tuple[str, int]]:
    from hdp2_5_hive_spark.oracle import connect_oracle

    con = connect_oracle(sf_dir)
    out = {}
    for name in sorted(names):
        rows = con.execute(oracle_sql(name)).fetchall()
        out[name] = (canon_rows(rows), len(rows))
    con.close()
    return out


def start_server(sf_dir: str, log_path) -> tuple[subprocess.Popen, int]:
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, "scripts/hs2_server.py", "--port", "0", "--sf", sf_dir,
             "--max-rows", str(FETCH_ROWS)],
            cwd=C.ROOT, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    deadline = time.monotonic() + 150
    pat = re.compile(rb"listening on port (\d+)")
    while time.monotonic() < deadline:
        m = pat.search(log_path.read_bytes())
        if m:
            return proc, int(m.group(1))
        if proc.poll() is not None:
            break
        time.sleep(0.05)
    C.stop_tree(proc)
    raise RuntimeError("hs2 server did not come up:\n"
                       + log_path.read_bytes()[-4000:].decode(errors="replace"))


def schedule(seed: int, seconds: float) -> tuple[list[dict], list[float]]:
    """Open-loop requests and the length of each rate phase. Each phase
    offers whole seeded permutations of the statements, as many as fit
    its share of the run at its rate; the phase length is then adjusted
    so the rate stays as set. Arrivals are a fixed count placed
    uniformly over the phase, which is a Poisson process given its
    count, so every seed offers the same mix in another order."""
    rng = random.Random(seed)
    names = sorted(STATEMENTS)
    share = seconds * (1 - CLOSED_SHARE) / len(RATES_QPS)
    reqs, lengths = [], []
    for k, rate in enumerate(RATES_QPS):
        perms = max(1, round(rate * share / len(names)))
        lengths.append(perms * len(names) / rate)
        stmts = [n for _ in range(perms) for n in rng.sample(names, len(names))]
        for due, stmt in zip(sorted(rng.uniform(0.0, lengths[k]) for _ in stmts), stmts):
            reqs.append({"id": len(reqs), "phase": k, "due": due, "stmt": stmt})
    return reqs, lengths


def serve_request(client, req: dict, tracer) -> None:
    tracer.set_op(req["id"])
    req["start"] = time.perf_counter()
    try:
        with tracer.span("hs2.request"):
            op = client.execute(STATEMENTS[req["stmt"]])
            client.schema(op)
            rows, more, calls = [], True, 0
            while more:
                batch, more = client.fetch(op, FETCH_ROWS)
                calls += 1
                rows.extend(batch)
                if not batch:
                    break
        req["rows"], req["fetch_calls"] = rows, calls
    except Exception as exc:  # noqa: BLE001 - a refused request is a failure
        req["error"] = f"{type(exc).__name__}: {exc}"
    req["end"] = time.perf_counter()


def drive(clients, reqs: list[dict], tracer, lengths: list[float]) -> float:
    """Open loop: the main thread releases each request when due; one
    worker thread per connection serves them. Phase ``k`` lasts at least
    ``lengths[k]`` and ends when its requests have drained; the next one
    starts then. Returns the measured seconds."""
    work: queue.Queue = queue.Queue()

    def worker(client):
        while True:
            req = work.get()
            if req is None:
                return
            serve_request(client, req, tracer)
            work.task_done()

    threads = [threading.Thread(target=worker, args=(c,), daemon=True) for c in clients]
    for t in threads:
        t.start()
    t_begin = time.perf_counter()
    for k, length in enumerate(lengths):
        base = time.perf_counter()
        for req in (r for r in reqs if r["phase"] == k):
            req["due"] += base
            delay = req["due"] - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            req["released"] = time.perf_counter()
            work.put(req)
        time.sleep(max(0.0, base + length - time.perf_counter()))
        work.join()
    measured = time.perf_counter() - t_begin
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return measured


def closed_loop(clients, seed: int, seconds: float, tracer,
                first_id: int) -> tuple[list[dict], float]:
    """Capacity: every connection sends its next statement as soon as
    its last one returned. Statements are whole seeded permutations;
    none is started after ``seconds`` unless it completes a permutation.
    Returns the requests and the elapsed seconds."""
    rng = random.Random(f"closed-{seed}")
    names = sorted(STATEMENTS)
    lock = threading.Lock()
    reqs: list[dict] = []
    perm: list[str] = []
    t_begin = time.perf_counter()

    def take():
        with lock:
            if len(reqs) % len(names) == 0:
                if time.perf_counter() - t_begin >= seconds:
                    return None
                perm[:] = rng.sample(names, len(names))
            req = {"id": first_id + len(reqs), "phase": "closed",
                   "stmt": perm[len(reqs) % len(names)]}
            reqs.append(req)
        req["due"] = req["released"] = time.perf_counter()
        return req

    def worker(client):
        while (req := take()) is not None:
            serve_request(client, req, tracer)

    threads = [threading.Thread(target=worker, args=(c,), daemon=True) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return reqs, time.perf_counter() - t_begin


def direct_layers(sf_dir: str) -> tuple[list[dict], dict]:
    """The same statements through ``spark.sql(...).collect()`` in this
    process with no server: server overhead = hs2 time - direct time.
    Also the per-statement Catalyst, execution and cache counters."""
    t0 = time.perf_counter()
    spark = C.start_session("perfbench-direct")
    t1 = time.perf_counter()
    from hdp2_5_hive_spark.catalog import register_views

    register_views(spark, sf_dir)
    t2 = time.perf_counter()
    probe = C.StatusProbe(spark)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    for sql in STATEMENTS.values():  # warm, as the server was
        spark.sql(sql).collect()
    setup = {"session.get_session_s": t1 - t0, "catalog.register_views_s": t2 - t1,
             "queries.warmup_s": time.perf_counter() - t2}
    ops = []
    for name, sql in STATEMENTS.items():
        before = probe.snapshot()
        a = time.perf_counter()
        df = spark.sql(sql)
        phases = C.catalyst_phases(df)
        b = time.perf_counter()
        df.collect()
        c = time.perf_counter()
        op = C.exec_delta(before, probe.snapshot(), c - b, cores)
        op.update(phases)
        op["serve.direct_s"] = c - a
        op["stmt"] = name
        ops.append(op)
    spark.stop()
    return ops, setup


def run(seed: int, seconds: float, trace: bool, t0: float, tracer) -> tuple[dict, Path]:
    work = C.prepare("olap_serve")
    sf_dir = C.data_dir(SF)
    from hdp2_5_hive_spark.sources import hs2_wire

    tracer.wrap(hs2_wire.HS2WireClient, ["execute", "schema", "fetch"], "hs2")
    server = None
    clients = []
    try:
        server_t0 = time.perf_counter()
        log_path = work / "server.log"
        server, port = start_server(sf_dir, log_path)
        server_up_s = time.perf_counter() - server_t0
        for _ in range(CONNECTIONS):
            c = hs2_wire.HS2WireClient("127.0.0.1", port)
            c.open_session()
            clients.append(c)
        warm_t0 = time.perf_counter()
        warm = [{"id": -1, "stmt": n, "due": 0.0, "phase": 0}
                for _ in range(WARMUP_PASSES) for n in sorted(STATEMENTS)]
        drive(clients, warm, tracer, [0.0])  # untimed warm-up passes
        bad = [f"{r['stmt']}: {r['error']}" for r in warm if "error" in r]
        if bad:
            raise RuntimeError(f"warm-up failed: {bad}")
        warmup_s = time.perf_counter() - warm_t0
        setup_s = time.perf_counter() - t0

        reqs, lengths = schedule(seed, seconds)
        measured = drive(clients, reqs, tracer, lengths)
        closed, closed_s = closed_loop(clients, seed, seconds * CLOSED_SHARE, tracer,
                                       len(reqs))
        rss = C.peak_rss_mb(os.getpid())
    finally:
        for c in clients:
            with contextlib.suppress(Exception):  # the server may be gone already
                c.close()
        if server is not None:
            C.stop_tree(server)

    # answers are checked against DuckDB after the measured region
    open_reqs, reqs = reqs, reqs + closed
    expected = expected_answers(sf_dir, {r["stmt"] for r in reqs})
    failed = 0
    for r in reqs:
        want, want_n = expected[r["stmt"]]
        if "error" not in r and canon_rows(r["rows"]) != want:
            r["error"] = f"wrong answer: {len(r['rows'])} rows, oracle {want_n}"
        failed += "error" in r
    ok = [r for r in open_reqs if "error" not in r]
    closed_ok = [r for r in closed if "error" not in r]

    def lat(rs):
        return [r["end"] - r["due"] for r in rs]

    per_rate = {}
    max_ok = 0.0
    for k, rate in enumerate(RATES_QPS):
        rs = [r for r in ok if r["phase"] == k]
        tl = C.tail(lat(rs))
        waits = [r["start"] - r["due"] for r in sorted(rs, key=lambda r: r["due"])]
        third = max(1, len(waits) // 3)
        growing = (C.p50(waits[-third:]) - C.p50(waits[:third])) > LATENCY_LIMIT_S / 2
        per_rate[f"r{k + 1}"] = {
            "offered_qps": rate, "latency_p50_s": C.p50(lat(rs)),
            "latency_tail_s": tl, "backlog_growing": growing,
            "failed": sum(1 for r in reqs if r["phase"] == k and "error" in r),
            "n": len(rs),
        }
        # a failed or refused request misses the limit
        if (rs and not per_rate[f"r{k + 1}"]["failed"]
                and tl["value"] <= LATENCY_LIMIT_S and not growing):
            max_ok = rate
    lats = lat(ok)
    tl = C.tail(lats)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": C.p50(lats),
        "latency_tail_s": tl["value"],
        "throughput_ops_s": len(closed_ok) / closed_s,
        "peak_rss_mb": rss,
    }
    for k in per_rate:
        e2e[f"latency_p50_s.{k}"] = per_rate[k]["latency_p50_s"]
        e2e[f"latency_tail_s.{k}"] = per_rate[k]["latency_tail_s"]["value"]
    e2e["max_ok_rate_qps"] = max_ok
    e2e["failed_frac"] = failed / len(reqs)
    counts = {"setup_s": 1, "peak_rss_mb": 1, "max_ok_rate_qps": len(RATES_QPS),
              "throughput_ops_s": len(closed_ok), "failed_frac": len(reqs)}
    for k in per_rate:
        counts[f"latency_p50_s.{k}"] = counts[f"latency_tail_s.{k}"] = per_rate[k]["n"]

    layers = {}
    if trace:
        spans = tracer.by_op()
        hs2_ops = []
        for r in ok + closed_ok:
            tot = spans.get(r["id"], {}).get("total", {})
            hs2_ops.append({
                "hs2.execute_s": tot.get("hs2.execute", 0.0),
                "hs2.fetch_s": tot.get("hs2.schema", 0.0) + tot.get("hs2.fetch", 0.0),
                "hs2.fetch_calls": r["fetch_calls"],
                "hs2.rows_fetched": len(r["rows"]),
            })
            if r["phase"] != "closed":
                hs2_ops[-1]["loadgen.queue_wait_s"] = r["start"] - r["released"]
        direct_ops, direct_setup = direct_layers(sf_dir)
        layers = C.summarize(hs2_ops + direct_ops)
        layers.update(direct_setup)
        layers["loadgen.late_max_s"] = max(r["released"] - r["due"] for r in open_reqs)
        layers["layer_self_s"] = C.self_times(spans)
    report = {
        "workload": "olap_serve", "seed": seed, "sf": SF,
        "rates_qps": RATES_QPS, "latency_limit_s": LATENCY_LIMIT_S,
        "connections": CONNECTIONS, "phase_lengths_s": lengths,
        "measured_s": measured + closed_s, "open_loop_s": measured,
        "closed_loop": {"s": closed_s, "n": len(closed_ok),
                        "latency_p50_s": C.p50(lat(closed_ok))},
        "server_up_s": server_up_s, "warmup_s": warmup_s,
        "attempted": len(reqs), "failed": failed,
        "errors": sorted({r["error"][:200] for r in reqs if "error" in r}),
        "latency_tail": tl, "per_rate": per_rate,
        "per_statement_count": {
            n: sum(1 for r in reqs if r["stmt"] == n) for n in sorted(STATEMENTS)},
        "per_statement_p50_s": {
            n: C.p50([r["end"] - r["due"] for r in ok if r["stmt"] == n])
            for n in sorted(STATEMENTS)},
        "end_to_end": C.describe(e2e, len(ok), counts), "per_layer": layers,
    }
    return report, work
