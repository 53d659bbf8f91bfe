"""Seeded closed-loop benchmark of the query engine.

    python3 perfbench/run.py --workload headline --seed 7 --seconds 10 --trace 0

One process, one client: registered queries run one after another
through ``registry.QUERIES[name](spark, sf_dir)``. The seed picks the
query sample (one key per slot of the workload) and the order of every
pass. A run is:

1. set-up: the interpreter starts, ``registry.load_all`` and
   ``session.get_spark`` run (``setup_s``, wall time);
2. a cold pass in the fresh session, each result collected to pandas
   the way the external correctness gate collects it
   (``cold_pass_cpu_s``);
3. warm passes, each result materialized with a noop write: a fixed
   count (``WARM_PASSES``), and more while ``--seconds`` of warm time
   have not passed. A key costs its cheaper warm run; ``batch_cpu_s``
   is the sum over the sample, ``query_cpu_p90_s`` a percentile over
   the keys;
4. outside all timing, every collected result is checked against its
   DuckDB oracle with the strict full-repr canon of
   ``tools/verify_local.py``.

Query and pass costs are CPU seconds of the whole process tree (this
interpreter, the JVM, its Python workers), which a shared host's other
tenants do not inflate the way they inflate wall time; warm figures
leave out the JVM's JIT compiler threads, which are still compiling in
the background. Wall times and the median key cost are printed and
recorded beside them, not gated.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` launches the
JVM with Spark's event log on, records spans around each query
(query-fn, plan, materialize), times ``tables.load_table`` calls, and
reports the per-layer metrics instead. End-to-end numbers come only
from untraced runs. Every run appends a record to
``perfbench/out/<workload>/runs.jsonl``; traced runs also write
``trace-seed<N>.json`` (per-layer metrics, per-query split, spans).

The last line on stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
See perfbench/README.md for the workloads and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_ROOT = os.path.join(HERE, "out")

# (name, unit). BENCHMARK.json lists the same names; a test pins that.
END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_cpu_s", "s"),
    ("batch_cpu_s", "s"),
    ("query_cpu_p90_s", "s"),
    ("ok_frac", "frac"),
]
# (name, unit, source): "setup." keys come from the set-up timings,
# "call." from the per-call load_table times, the rest from one warm
# pass (event-log window plus span sums), taken as a median over passes.
PER_LAYER = [
    ("session.get_spark_s", "s", "setup.get_spark_s"),
    ("registry.load_all_s", "s", "setup.load_all_s"),
    ("tables.load_table_s", "s/call", "call.load_table_s"),
    ("tables.load_table_calls", "count/pass", "load_table_calls"),
    ("registry.query_fn_s", "s/pass", "query_fn_s"),
    ("catalyst.plan_s", "s/pass", "plan_s"),
    ("exec.materialize_s", "s/pass", "materialize_s"),
    ("jvm.jit_cpu_s", "s/pass", "jit_cpu_s"),
    ("exec.jobs", "count/pass", "jobs"),
    ("exec.stages", "count/pass", "stages"),
    ("exec.tasks", "count/pass", "tasks"),
    ("exec.executor_run_s", "s/pass", "executor_run_s"),
    ("exec.executor_cpu_s", "s/pass", "executor_cpu_s"),
    ("exec.busy_frac", "frac", "busy_frac"),
    ("exec.gc_s", "s/pass", "gc_s"),
    ("exec.shuffle_read_bytes", "B/pass", "shuffle_read_bytes"),
    ("exec.shuffle_write_bytes", "B/pass", "shuffle_write_bytes"),
    ("exec.spill_bytes", "B/pass", "spill_bytes"),
    ("exec.input_bytes", "B/pass", "input_bytes"),
    ("exec.output_bytes", "B/pass", "output_bytes"),
    ("exec.failed_tasks", "count/pass", "failed_tasks"),
    ("functions.python_bytes_out", "B/pass", "python_bytes_out"),
    ("functions.python_bytes_in", "B/pass", "python_bytes_in"),
    ("streaming.batches", "count/pass", "stream_batches"),
    ("streaming.batch_s", "s/batch", "stream_batch_s"),
    ("streaming.state_rows", "count/pass", "stream_state_rows"),
    ("streaming.state_commit_s", "s/pass", "stream_commit_s"),
    ("writes.bytes_per_input_byte", "ratio", "bytes_per_input_byte"),
]

CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
)


# Fixture directory, beside the engine's default fixture, for both workloads.
SF = "sf0.01"
# Warm passes per run. The JIT is still warming, so every run makes the
# same number of passes (--seconds only adds passes beyond it); a pass
# more or less would shift every median.
WARM_PASSES = 2


# Slots of interchangeable keys: the seed picks one key per slot, and
# the keys of a slot cost about the same, so a pass does the same work
# whatever the seed. Costs below are warm CPU seconds without the JIT
# (sf0.01, 4 cores, range over 20 runs). The slots that decide the percentiles hold one key:
# headline's five key costs sort as C < M < q21, q5 < L, so p50 is the
# cheaper of q21 and q5 (recorded, not gated: one key's run), and p90
# lies between the dearer one and L.
#
# bench.HEADLINE: 5 keys a pass, every key but two. stream_tumbling_count
# is a stream replay: as the first stream of a process its cold run costs
# twice any batch key's. dedup_minhash_signatures (a little above q5)
# matches no slot: beside q5/q21 it would move the percentiles.
HEADLINE_SLOTS = [
    ("dedup_incremental_lsh",),  # 4.1-6.1
    ("q5_local_supplier",),  # 1.2-1.7
    ("q21_waiting_supplier",),  # 0.9-1.6
    (
        "text_bm25_search",
        "q3_shipping_priority",
        "q18_large_orders",
        "join_multiway",
        "sim_search_cosine_topk",
        "q1_pricing_summary",
        "join_asof",
    ),  # 0.4-0.9
    (
        "window_running_sum",
        "topk_per_group",
        "dedup_exact",
        "agg_groupby",
        "q6_forecast_revenue",
        "text_tokenize_counts",
        "set_union_distinct",
        "join_left_outer",
        "flatten_multimap",
    ),  # 0.25-0.55
]

# Write and streaming keys (sources/writes.py, streaming/stream_queries.py):
# the stateful pair and one parquet write, every pass; the seed only
# orders them. p50 is the cheaper of the pair, p90 lies near the dearer
# one. The budget of a run
# leaves out the rest of the family: the stateless replays
# (stream_tumbling_count, stream_sliding_agg), compact_small_files
# (slower than any write key), and the saveAsTable keys, which write to
# the warehouse directory session.get_spark pins outside the working tree.
WRITE_STREAM_SLOTS = [
    ("stream_stateful_running",),  # state-store commits, applyInPandasWithState (5.5-8.7)
    ("stream_transform_with_state",),  # the same through transformWithState (6.3-9.2)
    ("write_codec_matrix",),  # parquet written under five codecs, read back (1.7-2.5)
]


def workloads() -> dict[str, list[tuple[str, ...]]]:
    """Workload name -> slots; the seed picks one key per slot."""
    sys.path.insert(0, ROOT)
    import bench  # the headline population is bench.HEADLINE, never a copy

    if not {k for slot in HEADLINE_SLOTS for k in slot} <= set(bench.HEADLINE):
        raise RuntimeError("every headline key must be in bench.HEADLINE")
    return {"headline": HEADLINE_SLOTS, "write-stream": WRITE_STREAM_SLOTS}


def pick_sample(slots: list[tuple[str, ...]], name: str, seed: int) -> tuple[list[str], random.Random]:
    """The seed's sample, and the generator that orders its passes."""
    rng = random.Random(f"{name}/{seed}")
    return [rng.choice(slot) for slot in slots], rng


# Timestamps are monotonic (no clock steps inside a measurement) but
# shifted to epoch seconds once, so they line up with event-log times.
_EPOCH_SHIFT = time.time() - time.monotonic()


def now() -> float:
    return time.monotonic() + _EPOCH_SHIFT


# ---------------------------------------------------------------- process


def _process_age_s() -> float:
    """Seconds since this process started, from the kernel's record."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            found.append(kid)
            todo.append(kid)
    return found


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_cpu_s(path: str, children: bool = True) -> float:
    """CPU seconds of a stat(5) file: utime + stime, plus cutime + cstime
    (reaped children) with ``children``. A thread's stat file repeats its
    process's cutime and cstime, so thread sums must leave them out."""
    try:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # it ended between the listing and the read
        return 0.0
    return sum(int(x) for x in fields[11 : 15 if children else 13]) * _TICK_S


def jit_threads(jvm: int) -> list[str]:
    """stat(5) paths of the JVM's JIT compiler threads ("C1/C2
    CompilerThre"). The JVM runs with a fixed set of them
    (-XX:-UseDynamicNumberOfCompilerThreads), so one listing holds."""
    paths = []
    for tid in os.listdir(f"/proc/{jvm}/task"):
        with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
            if "CompilerThre" in fh.read():
                paths.append(f"/proc/{jvm}/task/{tid}/stat")
    return paths


def tree_cpu_s(root: int, jit: list[str]) -> tuple[float, float]:
    """(CPU seconds of the process tree, of which the JIT threads').
    The tree is this interpreter, the JVM and the Python workers the JVM
    forks. Time a runnable thread waits for a CPU (other tenants' load,
    CPU steal) does not count."""
    total = sum(_stat_cpu_s(f"/proc/{pid}/stat") for pid in [root] + _descendants(root))
    return total, sum(_stat_cpu_s(path, children=False) for path in jit)


def busy_threads(root: int, seconds: float) -> tuple[float, list]:
    """CPU the process tree burns while no query runs: (CPU seconds per
    second of idle, the busiest threads as [process, thread, CPU s])."""
    def sample() -> dict:
        out = {}
        for pid in [root] + _descendants(root):
            try:
                tids = os.listdir(f"/proc/{pid}/task")
                with open(f"/proc/{pid}/comm") as fh:
                    pname = fh.read().strip()
            except OSError:
                continue
            for tid in tids:
                path = f"/proc/{pid}/task/{tid}/stat"
                try:
                    with open(path) as fh:
                        tname = fh.read().split("(", 1)[1].rsplit(")", 1)[0]
                except (OSError, IndexError):
                    continue
                out[(pname, tname, pid, tid)] = _stat_cpu_s(path, children=False)
        return out

    a = sample()
    time.sleep(seconds)
    b = sample()
    burn = sorted(((v - a.get(k, 0.0), k) for k, v in b.items()), reverse=True)
    total = sum(d for d, _ in burn)
    return total / seconds, [[k[0], k[1], round(d, 2)] for d, k in burn[:3] if d > 0]


def _host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.05)


# ------------------------------------------------------------------- run


@dataclass
class QueryRun:
    name: str
    pass_no: int
    start: float  # epoch seconds
    end: float = 0.0
    cpu: float = 0.0  # process-tree CPU seconds
    jit: float = 0.0  # of which JIT compiler threads
    fn_end: float = 0.0
    plan_end: float = 0.0
    ok: bool = True
    load_tables: list[tuple[float, float]] = field(default_factory=list)

    @property
    def span_id(self) -> str:
        return f"p{self.pass_no}.{self.name}"

    @property
    def latency(self) -> float:
        return self.end - self.start

    @property
    def work_cpu(self) -> float:
        """CPU seconds without the JIT compiler's."""
        return self.cpu - self.jit


@dataclass
class PassRun:
    no: int
    start: float
    end: float = 0.0
    queries: list[QueryRun] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Runner:
    """One closed-loop client over a live session."""

    def __init__(self, spark, registry, sf_dir: str, traced: bool):
        self.spark = spark
        self.registry = registry
        self.sf_dir = sf_dir
        self.traced = traced
        self.pid = os.getpid()
        from pyspark import SparkContext

        self.jit_paths = jit_threads(SparkContext._gateway.proc.pid)
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.frames: dict = {}
        self.load_calls: list[tuple[float, float]] = []
        if traced:
            self._time_load_table()

    def _time_load_table(self) -> None:
        """Wrap tables.load_table everywhere it was imported by name."""
        from parquet_playground_spark import tables

        original = tables.load_table
        calls = self.load_calls

        def timed(*args, **kwargs):
            t0 = now()
            try:
                return original(*args, **kwargs)
            finally:
                calls.append((t0, now()))

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(
                "parquet_playground_spark"
            ) and getattr(mod, "load_table", None) is original:
                mod.load_table = timed

    def _describe(self, label: str | None) -> None:
        if self.traced:
            self.spark.sparkContext.setJobDescription(label)

    def run_pass(self, no: int, order: list[str], collect: bool) -> PassRun:
        p = PassRun(no, now())
        for name in order:
            p.queries.append(self._run_query(no, name, collect))
        p.end = now()
        self._describe(None)
        return p

    def _run_query(self, no: int, name: str, collect: bool) -> QueryRun:
        fn = self.registry.QUERIES[name]
        first_load = len(self.load_calls)
        cpu0, jit0 = tree_cpu_s(self.pid, self.jit_paths)
        q = QueryRun(name, no, now())
        self.attempted += 1
        try:
            self._describe(f"{q.span_id}:fn")
            df = fn(self.spark, self.sf_dir)
            q.fn_end = now()
            if self.traced:
                self._describe(f"{q.span_id}:plan")
                df._jdf.queryExecution().executedPlan()
            q.plan_end = now()
            self._describe(f"{q.span_id}:mat")
            if collect:
                self.frames[name] = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a failing query is a result
            q.ok = False
            self.failed += 1
            self.failures.setdefault(name, f"pass {no}: {exc!r}"[:300])
        q.end = now()
        cpu1, jit1 = tree_cpu_s(self.pid, self.jit_paths)
        q.cpu, q.jit = cpu1 - cpu0, jit1 - jit0
        q.fn_end = q.fn_end or q.end
        q.plan_end = q.plan_end or q.fn_end
        q.load_tables = self.load_calls[first_load:]
        return q


def check_oracles(frames: dict, oracles: dict, sf_dir: str, tmp: str) -> dict[str, str]:
    """Strict oracle comparison (verify_local's canon); name -> problem."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import verify_local

    problems: dict[str, str] = {}
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.path.join(tmp, 'duckdb')}'")
        for t in verify_local.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name, spdf in frames.items():
            if name not in oracles:
                continue  # rows-only key: running without error is the check
            try:
                opdf = con.sql(oracles[name]).df()
            except duckdb.Error as exc:
                problems[name] = f"oracle error: {exc}"[:300]
                continue
            if len(spdf) != len(opdf):
                problems[name] = f"rowcount spark={len(spdf)} duckdb={len(opdf)}"
            elif sorted(spdf.columns) != sorted(opdf.columns):
                problems[name] = (
                    f"schema spark={sorted(spdf.columns)} "
                    f"duckdb={sorted(opdf.columns)}"
                )
            else:
                srows, skinds = verify_local.canon_pdf_strict(spdf)
                orows, okinds = verify_local.canon_pdf_strict(opdf)
                skew = {c: (k, okinds.get(c)) for c, k in skinds.items() if k != okinds.get(c)}
                if skew:
                    problems[name] = f"dtype-kind skew: {skew}"
                elif srows != orows:
                    diff = [(a, b) for a, b in zip(srows, orows) if a != b][:2]
                    problems[name] = f"values differ: {diff}"[:300]
    finally:
        con.close()
    return problems


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between order statistics."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def key_costs(warm: list[PassRun]) -> dict[str, float]:
    """Each key's cost: its cheaper warm run, in CPU seconds without the
    JIT. The first warm pass still runs code the JIT is compiling, and
    on a shared host its figures vary most."""
    runs: dict[str, list[float]] = {}
    for p in warm:
        for q in p.queries:
            if q.ok:
                runs.setdefault(q.name, []).append(q.work_cpu)
    return {name: min(v) for name, v in runs.items()}


def end_to_end(setup_s, cold: PassRun, warm: list[PassRun], attempted, failed) -> tuple[dict, dict]:
    """The gated metrics, and figures recorded but not gated: the
    issue's wall times, and the median key cost, which is one key's run
    and moves 10-25% from run to run on a shared host."""
    cost = list(key_costs(warm).values())
    lat = [q.latency for p in warm for q in p.queries if q.ok]
    metrics = {
        "setup_s": setup_s,
        "cold_pass_cpu_s": sum(q.cpu for q in cold.queries),
        "batch_cpu_s": sum(cost),
        "query_cpu_p90_s": p90(cost),
        "ok_frac": (attempted - failed) / attempted,
    }
    recorded = {
        "query_cpu_p50_s": statistics.median(cost) if cost else 0.0,
        "cold_pass_s": cold.wall,
        "batch_wall_s": statistics.median(p.wall for p in warm),
        "query_p50_s": statistics.median(lat) if lat else 0.0,
        "query_p90_s": p90(lat),
    }
    return metrics, recorded


def per_layer(setup: dict, warm: list[PassRun], records: list[dict], cpus: int) -> dict:
    import eventlog

    rows = []
    for p in warm:
        ev = eventlog.window(records, p.start * 1e3, p.end * 1e3)
        qs = p.queries
        ev["query_fn_s"] = sum(q.fn_end - q.start for q in qs)
        ev["plan_s"] = sum(q.plan_end - q.fn_end for q in qs)
        ev["materialize_s"] = sum(q.end - q.plan_end for q in qs)
        ev["load_table_calls"] = sum(len(q.load_tables) for q in qs)
        ev["jit_cpu_s"] = sum(q.jit for q in qs)
        ev["busy_frac"] = ev["executor_run_s"] / (p.wall * cpus)
        ev["bytes_per_input_byte"] = (
            ev["output_bytes"] / ev["input_bytes"] if ev["input_bytes"] else 0.0
        )
        rows.append(ev)

    load_s = [b - a for p in warm for q in p.queries for a, b in q.load_tables]
    sources = {f"setup.{k}": v for k, v in setup.items()}
    sources["call.load_table_s"] = statistics.median(load_s) if load_s else 0.0
    for key in rows[0]:
        sources[key] = statistics.median(r[key] for r in rows)
    return {name: sources[src] for name, _, src in PER_LAYER}


def spans_and_queries(passes: list[PassRun], records: list[dict]) -> tuple[list, list]:
    """Spans (query > query-fn, plan, materialize > load_table) and a
    per-query row with the event-log counters of its window."""
    import eventlog

    by_desc = eventlog.jobs_by_description(records)
    spans, rows = [], []
    for p in passes:
        for q in p.queries:
            sid = q.span_id
            spans.append({"id": sid, "parent": None, "name": "query", "start": q.start, "end": q.end})
            for phase, a, b in (
                ("fn", q.start, q.fn_end),
                ("plan", q.fn_end, q.plan_end),
                ("mat", q.plan_end, q.end),
            ):
                spans.append({
                    "id": f"{sid}:{phase}", "parent": sid, "name": phase,
                    "start": a, "end": b, "jobs": by_desc.get(f"{sid}:{phase}", 0),
                })
            for i, (a, b) in enumerate(q.load_tables):
                spans.append({
                    "id": f"{sid}:fn:lt{i}", "parent": f"{sid}:fn",
                    "name": "load_table", "start": a, "end": b,
                })
            row = eventlog.window(records, q.start * 1e3, q.end * 1e3)
            row.update(
                name=q.name, pass_no=p.no, ok=q.ok, latency_s=q.latency,
                fn_s=q.fn_end - q.start, plan_s=q.plan_end - q.fn_end,
                mat_s=q.end - q.plan_end, load_table_calls=len(q.load_tables),
            )
            rows.append(row)
    return spans, rows


def trace_overhead(history: list[dict], seed: int, traced: dict, traced_recorded: dict) -> dict | None:
    """Traced batch_wall_s and batch_cpu_s against untraced runs of the
    same workload in this output directory (same seed when there is one)."""
    untraced = [r for r in history if r["trace"] == 0]
    same = [r for r in untraced if r["seed"] == seed]
    base = same or untraced
    if not base:
        return None
    wall = statistics.median(r["recorded"]["batch_wall_s"] for r in base)
    cpu = statistics.median(r["metrics"]["batch_cpu_s"] for r in base)
    return {
        "traced_batch_wall_s": traced_recorded["batch_wall_s"],
        "untraced_batch_wall_s": wall,
        "wall_overhead_frac": traced_recorded["batch_wall_s"] / wall - 1.0,
        "traced_batch_cpu_s": traced["batch_cpu_s"],
        "untraced_batch_cpu_s": cpu,
        "cpu_overhead_frac": traced["batch_cpu_s"] / cpu - 1.0,
        "untraced_runs": len(base),
        "same_seed": bool(same),
    }


def _read_history(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (the JVM and the Python workers it forked)."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(kids, timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    table = workloads()
    if args.workload not in table:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(table)}")
    slots = table[args.workload]
    traced = bool(args.trace)

    cpus = len(os.sched_getaffinity(0))
    out_dir = os.path.join(OUT_ROOT, args.workload)
    tmp = os.path.join(OUT_ROOT, f"tmp-{os.getpid()}")
    evdir = os.path.join(tmp, "eventlog")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(evdir)
    # Everything the engine stages goes under tmp: tempfile users
    # (stream sources, write round-trips), Spark's local dirs, the JVM.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # every JVM (the launcher and Spark's): temp files under tmp, and no
    # hsperfdata files, which the JVM would write to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # compiler threads live as long as the JVM, so their CPU stays countable
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # A fixed starting heap. Grown from the JVM's small default, the
        # heap sometimes lagged the live set and G1 ran concurrent cycles
        # through whole runs: 7 of 35 write-stream runs ran every key
        # slower. Seeds that showed it repeatedly did not with 2 GB.
        "--conf", "spark.driver.extraJavaOptions=-Xms2g",
    ]
    if traced:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evdir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

    # The result line must be the last stdout line: point fd 1 (and the
    # JVM, which inherits it) at stderr, keep the real stdout for us.
    sys.stdout.flush()
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    spark = None
    try:
        sys.path.insert(0, ROOT)
        sys.path.insert(0, HERE)
        t0 = time.monotonic()
        from parquet_playground_spark import registry, session, tables

        registry.load_all()
        t1 = time.monotonic()
        sf_dir = os.path.join(
            os.path.dirname(tables.DEFAULT_SF_DIR.rstrip("/")), SF
        )
        if not os.path.isdir(sf_dir):
            print(f"fixture directory {sf_dir} is missing", file=sys.stderr)
            return 2
        spark = session.get_spark(f"perfbench-{args.workload}")
        t2 = time.monotonic()
        setup = {
            "setup_s": _process_age_s(),
            "load_all_s": t1 - t0,
            "get_spark_s": t2 - t1,
        }
        spark.sparkContext.setLogLevel("ERROR")

        sample, rng = pick_sample(slots, args.workload, args.seed)
        conf_before = {k: spark.conf.get(k) for k in CONF_KEYS}
        runner = Runner(spark, registry, sf_dir, traced)
        # The cold pass runs the sample in slot order, as the external
        # gate runs keys in one fixed order; warm passes are shuffled.
        steal0 = _host_steal()
        cold = runner.run_pass(0, sample, collect=True)
        warm: list[PassRun] = []
        warm_start = time.monotonic()
        while len(warm) < WARM_PASSES or time.monotonic() - warm_start < args.seconds:
            order = rng.sample(sample, len(sample))
            warm.append(runner.run_pass(len(warm) + 1, order, collect=False))
        conf_after = {k: spark.conf.get(k) for k in CONF_KEYS}
        idle_cpu, idle_threads = busy_threads(os.getpid(), 1.0)
        steal1 = _host_steal()
        steal_frac = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        from pyspark import SparkContext

        rss_mb = _hwm_mb(os.getpid()) + _hwm_mb(SparkContext._gateway.proc.pid)
        _stop_spark(spark)
        spark = None

        problems = check_oracles(runner.frames, registry.ORACLES, sf_dir, tmp)
        runner.frames.clear()
        for name, why in problems.items():
            runner.failures.setdefault(name, why)
        failed = runner.failed + len(problems)
        e2e, recorded = end_to_end(setup["setup_s"], cold, warm, runner.attempted, failed)

        history_path = os.path.join(out_dir, "runs.jsonl")
        history = _read_history(history_path)
        n_lat = sum(q.ok for p in warm for q in p.queries)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "cpus": cpus, "sf_dir": sf_dir,
            "sample": sample, "warm_passes": len(warm), "latency_samples": n_lat,
            "attempted": runner.attempted, "failed": failed,
            "failed_frac": failed / runner.attempted,
            "failures": runner.failures, "metrics": e2e, "recorded": recorded, "setup": setup,
            "steal_frac": steal_frac,
            "idle_cpu_per_s": idle_cpu, "idle_busy_threads": idle_threads,
            "peak_rss_mb": rss_mb,
            "conf": {"before_first_query": conf_before, "after_last_query": conf_after},
            "query_latencies": [[q.pass_no, q.name, q.latency, q.cpu, q.jit] for p in [cold] + warm for q in p.queries],
        }
        with open(history_path, "a") as fh:
            fh.write(json.dumps(record) + "\n")

        say = [
            f"workload={args.workload} seed={args.seed} sf_dir={sf_dir} cpus={cpus}",
            f"sample={sample}",
            f"peak_rss_mb={rss_mb:.0f} warm_passes={len(warm)} latency_samples={n_lat} "
            f"attempted={runner.attempted} "
            f"failed={failed} failed_frac={failed / runner.attempted:.4f}",
            f"failures={runner.failures}",
            "not gated: " + " ".join(f"{k}={v:.3f}" for k, v in recorded.items())
            + f" (host CPU steal during the passes: {steal_frac:.3f})",
            f"idle CPU after the passes: {idle_cpu:.2f} s/s, busiest threads {idle_threads}",
            f"conf before_first_query={conf_before}",
            f"conf after_last_query={conf_after}",
        ]
        if traced:
            import eventlog

            logs = [os.path.join(evdir, f) for f in os.listdir(evdir)]
            records = [r for path in logs for r in eventlog.read(path)]
            metrics = per_layer(setup, warm, records, cpus)
            units = {name: unit for name, unit, _ in PER_LAYER}
            overhead = trace_overhead(history, args.seed, e2e, recorded)
            spans, per_query = spans_and_queries([cold] + warm, records)
            with open(os.path.join(out_dir, f"trace-seed{args.seed}.json"), "w") as fh:
                json.dump({
                    "workload": args.workload, "seed": args.seed,
                    "per_layer": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
                    "traced_end_to_end": e2e, "traced_recorded": recorded,
                    "trace_overhead": overhead,
                    "per_query": per_query, "spans": spans,
                }, fh, indent=1)
            say.append(f"trace_overhead={overhead}")
        else:
            metrics = e2e
            units = dict(END_TO_END)
        result = {
            "correct": failed == 0,
            "attempted": runner.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        for line in say:
            print(line, file=result_out)
        print(json.dumps(result), file=result_out, flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
