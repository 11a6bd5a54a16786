"""Shared pieces of the benchmark: environment, statistics, process-tree
memory, Spark status-store counters, spans and the result lines."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_work"
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare(workload: str) -> Path:
    """Fresh scratch tree for one run, and the environment every Spark
    process of the run inherits. All scratch stays in the checkout."""
    work = WORK / workload
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("spark-local", "warehouse", "tmp", "out"):
        (work / sub).mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["TZ"] = "UTC"  # Python datetimes agree with the UTC session
    time.tzset()
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    return work


def data_dir(sf: str) -> str:
    """Directory of the generated tables at scale factor ``sf``: a
    sibling of the engine's default data directory."""
    from hdp2_5_hive_spark.catalog import DEFAULT_SF_DIR

    return str(Path(DEFAULT_SF_DIR).parent / f"sf{sf}")


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# -- statistics --------------------------------------------------------------


def p50(values) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail(values) -> dict:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it. Below 2 * TAIL_BEYOND samples that percentile would fall under
    the median, so the maximum is reported instead (as p100)."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return {"value": xs[-1] if xs else float("nan"), "percentile": 100.0,
                "n": n, "beyond": 0}
    return {"value": xs[n - TAIL_BEYOND - 1],
            "percentile": 100.0 * (n - TAIL_BEYOND) / n, "n": n,
            "beyond": TAIL_BEYOND}


# -- process-tree memory -----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and all its descendants."""
    total_kb = 0
    for p in tree(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def _wait_gone(pids, timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
    return alive


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def stop_tree(proc: subprocess.Popen, grace: float = 20.0) -> None:
    """Stop a child started with ``start_new_session=True`` and every
    process in its group, and wait until all of them have ended."""
    import signal

    pids = tree(proc.pid)
    if proc.poll() is None:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGINT)
        try:
            proc.wait(grace)
        except subprocess.TimeoutExpired:
            pass
    with contextlib.suppress(ProcessLookupError):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    _wait_gone(pids, grace)


def reap_children(grace: float = 20.0) -> None:
    """End every descendant of this process (the Spark JVM and its
    Python workers) and wait until they are gone."""
    import signal

    kids = [p for p in tree(os.getpid()) if p != os.getpid()]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in kids:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)
        kids = _wait_gone(kids, grace)
        if not kids:
            return


# -- Spark session and status store -----------------------------------------


def start_session(app_name: str):
    from hdp2_5_hive_spark.session import get_session

    return get_session(
        app_name=app_name,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


class StatusProbe:
    """Cumulative execution and cache counters read from Spark's
    AppStatusStore over py4j; deltas of two snapshots give one
    operation's share."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = spark.sparkContext._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen_stage = -1
        self._seen_job = -1
        self.totals = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0)

    def snapshot(self) -> dict:
        self._bus.waitUntilEmpty()
        stages = self._store.stageList(None, False, False, self._quantiles, None)
        top = self._seen_stage
        for i in range(stages.length()):  # newest first
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._seen_stage:
                break
            top = max(top, sid)
            if str(s.status()) == "SKIPPED":
                continue
            t = self.totals
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            t["run_ms"] += s.executorRunTime()
            t["input_bytes"] += s.inputBytes()
            t["shuffle_read_bytes"] += s.shuffleReadBytes()
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._seen_stage = top
        jobs = self._store.jobsList(None)
        newest = self._seen_job
        for i in range(jobs.length()):  # newest first
            jid = jobs.apply(i).jobId()
            if jid <= self._seen_job:
                break
            newest = max(newest, jid)
            self.totals["jobs"] += 1
        self._seen_job = newest
        rdds = self._store.rddList(True)
        held = 0
        for i in range(rdds.length()):
            r = rdds.apply(i)
            held += r.memoryUsed() + r.diskUsed()
        return dict(self.totals, cache_bytes=held, cache_rdds=rdds.length())


def exec_delta(before: dict, after: dict, wall: float, cores: int) -> dict:
    """One operation's execution counters; ``wall`` is the time of the
    operation's execution part as its caller timed it."""
    d = {k: after[k] - before[k] for k in before
         if k not in ("cache_bytes", "cache_rdds")}
    return {
        "exec.execute_s": wall,
        "exec.jobs": d["jobs"],
        "exec.stages": d["stages"],
        "exec.tasks": d["tasks"],
        "exec.run_s": d["run_ms"] / 1000.0,
        "exec.wall_core_s": wall * cores,
        "exec.input_bytes": d["input_bytes"],
        "exec.shuffle_read_bytes": d["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": d["shuffle_write_bytes"],
        "exec.spill_bytes": d["spill_bytes"],
        "cache.bytes_held_after": after["cache_bytes"],
        "cache.rdds_held_after": after["cache_rdds"],
    }


def catalyst_phases(df) -> dict:
    """Force the physical plan of ``df``'s own QueryExecution and read
    its phase tracker (analysis, optimization, planning in ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


def summarize(ops: list[dict]) -> dict:
    """Per-layer values of a run: the mean per operation of each
    numeric key, over the operations that carry it, and the busy
    fraction as total task time over total wall time x cores."""
    out: dict = {}
    for k in sorted({k for op in ops for k in op}):
        vals = [op[k] for op in ops if isinstance(op.get(k), (int, float))
                and not isinstance(op.get(k), bool)]
        if vals:
            out[k] = sum(vals) / len(vals)
    run = sum(op.get("exec.run_s", 0.0) for op in ops)
    wall = sum(op.get("exec.wall_core_s", 0.0) for op in ops)
    out["exec.busy_frac"] = run / wall if wall else 0.0
    return out


def self_times(by_op: dict) -> dict:
    """Mean self seconds per operation of each traced layer."""
    ops = [v for k, v in by_op.items() if k is not None and k >= 0]
    out: dict = {}
    for op in ops:
        for layer, s in op["self"].items():
            out[layer] = out.get(layer, 0.0) + s / len(ops)
    return out


# -- spans -------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, op) kept in memory; written
    when the run ends. Disabled, every call is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def set_op(self, op_id) -> None:
        self._tls.op = op_id

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        rec = {"name": name, "parent": stack[-1]["id"] if stack else None,
               "op": getattr(self._tls, "op", None),
               "start": time.perf_counter()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, module, names, layer: str) -> None:
        """Route calls to ``module.<name>`` through a span named
        ``<layer>.<name>``."""
        if not self.enabled:
            return
        for name in names:
            fn = getattr(module, name)

            def wrapped(*a, _fn=fn, _span=f"{layer}.{name}", **k):
                with self.span(_span):
                    return _fn(*a, **k)

            setattr(module, name, wrapped)

    def by_op(self) -> dict:
        """Per operation: total and self seconds per span name and per
        layer (the name's first dotted part)."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict = {}
        for s in self.spans:
            if "end" not in s:
                continue
            op = out.setdefault(s["op"], {"total": {}, "self": {}})
            dur = s["end"] - s["start"]
            layer = s["name"].split(".", 1)[0]
            op["total"][s["name"]] = op["total"].get(s["name"], 0.0) + dur
            op["self"][layer] = op["self"].get(layer, 0.0) + dur - kids.get(s["id"], 0.0)
        return out

    def dump(self, path: Path) -> None:
        if self.enabled:
            path.write_text(json.dumps(self.spans))


# -- environment and result --------------------------------------------------


def git_sha() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def environment(driver_memory: str, data: dict) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": driver_memory,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_sha": git_sha(),
        "data": data,
        "flush": "no fsync on either side (engine writers and the "
                 "benchmark's own files)",
        "fresh_process": True,
        "clear_cache_between_ops": False,
    }


UNITS = (("_ops_s", "1/s"), ("_qps", "1/s"), ("_mb", "MB"), ("_s", "s"))


def describe(values: dict, n: int, counts: dict | None = None) -> dict:
    """End-to-end metrics as {name: {value, unit, n}}; ``n`` is the
    sample count unless ``counts`` names another for the metric."""
    out = {}
    for name, v in values.items():
        base = name.split(".")[0]
        unit = next((u for suf, u in UNITS if base.endswith(suf)), "ratio")
        out[name] = {"value": v, "unit": unit, "n": (counts or {}).get(name, n)}
    return out


def emit(result: dict, report: dict) -> None:
    """The detailed report line, then the contract line (last)."""
    sys.stdout.write(json.dumps({"report": report}, default=str) + "\n")
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()
