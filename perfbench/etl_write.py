"""``etl_write``: one writer in a closed loop applies seeded upsert
batches to ``orders`` twice, as a MERGE into a Metastore table
partitioned by order year and as native ACID deltas followed by
``auto_compact``; each batch is followed by a read of both tables."""

from __future__ import annotations

import glob
import math
import os
import random
import time
from pathlib import Path

import common as C

SF = "0.01"
BATCH_FRAC = 0.01  # share of live keys a batch touches
MIX = (("U", 0.4), ("D", 0.3), ("I", 0.3))
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
STATUSES = ("F", "O", "P")
TABLE = "orders_by_year"


class Model:
    """The benchmark's own copy of the table: key -> (row, txn that
    inserted it). Answers are checked against its aggregates."""

    def __init__(self, rows):
        self.rows = {r[0]: r for r in rows}
        self.txn = dict.fromkeys(self.rows, 1)
        self.next_key = max(self.rows) + 1

    def change_set(self, rng: random.Random, write_id: int) -> list[tuple]:
        live = sorted(self.rows)
        n = max(3, round(len(live) * BATCH_FRAC))
        picked = iter(rng.sample(live, n))
        out = []
        for op, share in MIX:
            for _ in range(round(n * share)):
                if op == "I":
                    tmpl = self.rows[live[rng.randrange(len(live))]]
                    key, txn = self.next_key, write_id + 2
                    self.next_key += 1
                    row = (key, tmpl[1], rng.choice(STATUSES),
                           rng.randrange(100, 50_000_000) / 100.0, tmpl[4], tmpl[5])
                else:
                    key = next(picked)
                    old, txn = self.rows[key], self.txn[key]
                    row = old if op == "D" else (
                        key, old[1], rng.choice(STATUSES),
                        rng.randrange(100, 50_000_000) / 100.0, old[4], old[5])
                out.append((*row, row[4].year, op, txn))
        rng.shuffle(out)  # a change feed interleaves its operations
        return out

    def apply(self, changes) -> None:
        for *row, _year, op, txn in changes:
            if op == "D":
                del self.rows[row[0]]
                del self.txn[row[0]]
            else:
                self.rows[row[0]] = tuple(row)
                self.txn[row[0]] = txn

    def per_year(self) -> list[tuple]:
        agg: dict[int, list[int]] = {}
        for r in self.rows.values():
            a = agg.setdefault(r[4].year, [0, 0])
            a[0] += 1
            a[1] += math.floor(r[3] * 100)
        return sorted((y, n, c) for y, (n, c) in agg.items())


def per_year(df, year_col):
    from pyspark.sql import functions as F

    rows = (df.groupBy(year_col.alias("y"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.floor(F.col("o_totalprice") * 100)).alias("c"))
            .collect())
    return sorted((r["y"], r["n"], r["c"]) for r in rows)


def data_files(path) -> list[str]:
    return [f for f in glob.glob(f"{path}/**/*", recursive=True)
            if os.path.isfile(f) and os.path.basename(f).startswith("part-")]


def acid_read_dirs(acid_dir: Path) -> list[Path]:
    """The directories read_acid_table merges: the highest base and
    every delta above it."""
    bases = sorted(acid_dir.glob("base_*"))
    top = int(bases[-1].name.split("_")[1]) if bases else -1
    deltas = [d for d in sorted(acid_dir.glob("delta_*"))
              if int(d.name.split("_")[1]) > top]
    return bases[-1:] + deltas


def run(seed: int, seconds: float, trace: bool, t0: float, tracer) -> tuple[dict, Path]:
    work = C.prepare("etl_write")
    sf_dir = C.data_dir(SF)
    from pyspark.sql import functions as F

    from hdp2_5_hive_spark import metastore as ms_mod
    from hdp2_5_hive_spark.catalog import register_views
    from hdp2_5_hive_spark.sources import acid, writers

    tracer.wrap(acid, ["merge_into", "write_acid_events", "read_acid_table",
                       "auto_compact", "compact_acid_table", "compact_acid_minor"], "acid")
    tracer.wrap(acid, ["insert_overwrite_dynamic_partitions"], "writers")
    tracer.wrap(writers, ["insert_overwrite", "insert_overwrite_dynamic_partitions"],
                "writers")
    tracer.wrap(ms_mod.Metastore, ["create_table", "get_table"], "metastore")

    a = time.perf_counter()
    spark = C.start_session("perfbench-etl")
    b = time.perf_counter()
    tables = register_views(spark, sf_dir)
    c = time.perf_counter()
    conf = dict(spark.sparkContext.getConf().getAll())
    orders = tables["orders"].select(*COLS)
    model = Model([tuple(r) for r in orders.collect()])
    user_rows = len(model.rows)
    ms = ms_mod.Metastore(str(work / "warehouse" / "metastore"))
    ms.create_table(orders.withColumn("o_year", F.year("o_orderdate")), TABLE,
                    partition_by=["o_year"])
    tbl_path = os.path.join(ms.warehouse_dir, TABLE)
    acid_dir = work / "warehouse" / "orders_acid"
    acid.write_acid_events(
        orders.select(F.lit(1).alias("originalTransaction"), F.lit(0).alias("bucket"),
                      F.col("o_orderkey").alias("rowId"), *COLS),
        str(acid_dir), kind="base", write_id=1)
    schema = ", ".join([f"{n} {t}" for n, t in orders.dtypes]
                       + ["o_year int", "_op string", "_otx long"])
    rng = random.Random(seed)
    probe = C.StatusProbe(spark) if trace else None
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    ident = [F.col("_otx").alias("originalTransaction"), F.lit(0).alias("bucket"),
             F.col("o_orderkey").alias("rowId"), *COLS]

    def batch(write_id: int) -> dict:
        """One write batch and its read-after-write; times and answers."""
        changes = model.change_set(rng, write_id)
        src = spark.createDataFrame(changes, schema)
        op = {"write_id": write_id, "rows_changed": len(changes)}
        snap0 = probe.snapshot() if trace else None
        wall0, t_a = time.time(), time.perf_counter()
        acid.merge_into(
            spark, tbl_path, src, ["o_orderkey"],
            matched_update={"o_totalprice": F.col("s.o_totalprice"),
                            "o_orderstatus": F.col("s.o_orderstatus")},
            matched_delete=F.col("s._op") == "D",
            not_matched_insert=True, partition_cols=["o_year"])
        deltas = []
        for k, (kind, code) in enumerate((("U", acid.OP_UPDATE), ("D", acid.OP_DELETE),
                                          ("I", acid.OP_INSERT))):
            deltas.append(acid.write_acid_events(
                src.filter(F.col("_op") == kind).select(*ident), str(acid_dir),
                kind="delta", write_id=write_id + k, operation=code))
        delta_files = [len(data_files(d)) for d in deltas]  # before compaction folds them
        compaction = acid.auto_compact(spark, str(acid_dir))
        t_b = time.perf_counter()
        model.apply(changes)
        op["write_s"] = t_b - t_a
        new_files = [f for f in data_files(tbl_path) if os.path.getmtime(f) >= wall0]
        op["writers.files_written"] = len(new_files)
        op["written_bytes"] = sum(os.path.getsize(f) for f in new_files)
        op["acid.files_per_delta"] = sum(delta_files) / len(delta_files)
        op["acid.compactions_major"] = int(compaction == "MAJOR")
        op["acid.compactions_minor"] = int(compaction == "MINOR")
        op["acid.bytes_rewritten"] = 0
        if compaction == "MAJOR":
            op["acid.bytes_rewritten"] = C.dir_bytes(sorted(acid_dir.glob("base_*"))[-1])
        elif compaction == "MINOR":
            op["acid.bytes_rewritten"] = C.dir_bytes(sorted(acid_dir.glob("delta_*"))[-1])
        op["acid.read_files"] = sum(len(data_files(d)) for d in acid_read_dirs(acid_dir))
        if trace:
            snap1 = probe.snapshot()
        t_c = time.perf_counter()
        got_acid = per_year(acid.read_acid_table(spark, str(acid_dir)),
                            F.year("o_orderdate"))
        t_d = time.perf_counter()
        got_tbl = per_year(ms.get_table(spark, TABLE), F.col("o_year").cast("int"))
        t_e = time.perf_counter()
        op["read_s"] = t_e - t_c
        op["acid.read_s"] = t_d - t_c
        if trace:
            op.update(C.exec_delta(snap0, snap1, t_b - t_a, cores))
        want = model.per_year()
        op["answers"] = {"acid": got_acid == want, "table": got_tbl == want}
        return op

    warm = batch(2)  # untimed warm-up batch, applied like any other
    d = time.perf_counter()
    setup_layers = {"session.get_session_s": b - a, "catalog.register_views_s": c - b,
                    "queries.warmup_s": d - c}
    setup_s = d - t0

    ops: list[dict] = []
    write_id = 5
    t_begin = time.perf_counter()
    while time.perf_counter() - t_begin < seconds:
        tracer.set_op(len(ops))
        try:
            ops.append(batch(write_id))
        except Exception as exc:  # noqa: BLE001 - a failed batch is counted
            ops.append({"error": f"{type(exc).__name__}: {exc}"})
        write_id += 3
    measured = time.perf_counter() - t_begin
    tracer.set_op(None)
    rss = C.peak_rss_mb(os.getpid())

    # Space, outside the timed region: each table against the same
    # logical rows (the user's columns only) written once as one
    # compacted parquet file.
    ref = work / "out" / "reference"
    writers.insert_overwrite(ms.get_table(spark, TABLE).select(*COLS).coalesce(1), str(ref))
    ref_bytes = sum(os.path.getsize(f) for f in data_files(ref))
    tbl_bytes, acid_bytes = C.dir_bytes(tbl_path), C.dir_bytes(acid_dir)
    spark.stop()

    failed = attempted = 0
    for op in ops:
        attempted += 2  # the write batch and its read
        if "error" in op:
            failed += 2
            continue
        failed += not all(op["answers"].values())
        user_bytes = ref_bytes * op["rows_changed"] / user_rows
        op["writers.bytes_written_per_user_byte"] = op["written_bytes"] / user_bytes
    ok = [op for op in ops if "error" not in op]
    writes = [op["write_s"] for op in ok]
    reads = [op["read_s"] for op in ok if all(op["answers"].values())]
    tl = C.tail(writes)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": C.p50(writes),
        "latency_tail_s": tl["value"],
        "throughput_ops_s": len(ok) / measured,
        "peak_rss_mb": rss,
        "read_p50_s": C.p50(reads),
        "stored_bytes_per_user_byte": tbl_bytes / ref_bytes,
        "stored_bytes_per_user_byte.acid": acid_bytes / ref_bytes,
        "failed_frac": failed / max(1, attempted),
    }
    layers = {}
    if trace:
        spans = tracer.by_op()
        for i, op in enumerate(ok):
            tot = spans.get(i, {}).get("total", {})
            for key, names in (
                ("acid.merge_into_s", ["acid.merge_into"]),
                ("acid.write_events_s", ["acid.write_acid_events"]),
                ("acid.compact_s", ["acid.auto_compact"]),
                ("writers.call_s.insert_overwrite_dynamic_partitions",
                 ["writers.insert_overwrite_dynamic_partitions"]),
                ("writers.call_s", [n for n in tot if n.startswith("writers.")]),
                ("metastore.call_s.get_table", ["metastore.get_table"]),
                ("metastore.call_s", [n for n in tot if n.startswith("metastore.")]),
            ):
                op[key] = sum(tot.get(n, 0.0) for n in names)
        layers = C.summarize([{k: v for k, v in op.items() if k != "answers"}
                              for op in ok])
        layers.update(setup_layers)
        layers["layer_self_s"] = C.self_times(spans)
    report = {
        "workload": "etl_write", "seed": seed, "sf": SF,
        "measured_s": measured, "batches": len(ops), "attempted": attempted,
        "failed": failed, "rows_per_batch": warm["rows_changed"],
        "errors": sorted({op["error"][:200] for op in ops if "error" in op}),
        "latency_tail": tl, "setup": setup_layers,
        "space": {"table_bytes": tbl_bytes, "acid_bytes": acid_bytes,
                  "reference_bytes": ref_bytes,
                  "table_ratio": tbl_bytes / ref_bytes,
                  "acid_ratio": acid_bytes / ref_bytes},
        "compactions": [op.get("acid.compactions_major", 0) * "MAJOR"
                        or op.get("acid.compactions_minor", 0) * "MINOR" or None
                        for op in ok],
        "env_conf": {"spark.driver.memory": conf.get("spark.driver.memory")},
        "end_to_end": C.describe(e2e, len(writes), {
            "setup_s": 1, "peak_rss_mb": 1, "read_p50_s": len(reads),
            "stored_bytes_per_user_byte": 1, "stored_bytes_per_user_byte.acid": 1,
            "failed_frac": attempted}),
        "per_layer": layers,
    }
    return report, work
