#!/usr/bin/env python3
"""The repo benchmark: one workload through the engine's public functions
on one local session, every result checked against its DuckDB oracle.

    python3 perfbench/run.py --workload search_serve --seed 1 --seconds 15 --trace 0

Run it from the repo root. It generates its inputs from ``--seed`` under
``.perfbench/`` and keeps every temporary file of the engine, Spark and
the JVM there. ``--trace 0`` measures the end-to-end metrics; ``--trace
1`` is the separate traced run that reports the per-layer metrics and
the tracing overhead. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the line before
it is the full report (per-class latencies, tails with their percentile
and sample count, input sizes, load average, core count, failures).
``perfbench/README.md`` defines every metric and maps layers to them.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import gate
import gen
from measure import SparkStats, Tracer, cpu_s, descendants, python_worker_rss_peak_mb, summary

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

TPCH_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q13_customer_distribution", "join_fact_fact",
    "window_rank", "search_count",
)
CURATION_QUERIES = (
    "dedup_minhash_pairs", "dedup_simhash_hamming", "dedup_exact_spans",
    "dedup_apply_spans_keep_first", "ann_knn_join_all", "text_bpe_train_merges",
    "embedding_kmeans_clusters", "curation_pipeline_v3", "training_shard_export",
)
WORKLOADS = ("search_serve", "tpch_batch", "curation_batch", "stream_ingest")
# set-ups per run; setup_s is their median
SETUP_REPS = 3
# how long past the run length a run may go to finish its first units
OVERRUN_S = 60.0
# Untimed warm-up before timing: search rounds (an mr and a native
# request each), then native requests alone. Without the native-only
# ones, native request time fell by ~30 % over the first 30 timed rounds
# as the JIT caught up; a slower host times fewer rounds, so more of
# them fell on that slope.
SEARCH_WARM_ROUNDS = 4
NATIVE_WARM_REQUESTS = 24
# Files of the untimed warm-up replay before a timed stream replay. After
# a warm-up of two, the first timed replay's micro-batches took 30-40 %
# longer than the second replay's.
STREAM_WARM_FILES = 4
SEARCH_ORACLE = """
    SELECT p_name AS name, COUNT(*) AS cnt
    FROM part
    WHERE instr(p_name, '{word}') > 0
    GROUP BY p_name
    ORDER BY p_name
"""
MB = 2.0**20
# per-layer totals reported per traced operation
PER_OP = (
    "queries.build_s", "driver.jobs", "driver.stages", "driver.plan_s",
    "jvm.tasks", "jvm.task_run_s", "jvm.task_cpu_s", "jvm.gc_s",
    "python.boot_s", "python.init_s", "python.run_s", "sources.files_read",
)
PER_OP_MB = {
    "jvm.shuffle_write_b": "jvm.shuffle_write_mb",
    "jvm.shuffle_read_b": "jvm.shuffle_read_mb",
    "jvm.spill_b": "jvm.spill_mb",
    "python.sent_b": "python.sent_mb",
    "python.recv_b": "python.recv_mb",
    "sources.bytes_read_b": "sources.bytes_read_mb",
}


def _isolate(work: str) -> str:
    """Keep every temporary file of the engine, Spark and the JVM under
    ``work``. Runs before the engine package is imported, because its
    scratch root is fixed at import."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # PerfDisableSharedMem: the JVM's counters file goes to /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    ).strip()
    tempfile.tempdir = None
    return tmp


# The reference Search client's map and reduce (Search.cpp): keep names
# containing the word, count each name.
def _search_map(name, word):
    return [(name, 1)] if word in name else []


def _search_reduce(name, ones):
    return [(name, len(ones))]


def _dir_size(path: str) -> tuple[int, int]:
    files = [os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs]
    return len(files), sum(os.path.getsize(f) for f in files)


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Keeps each micro-batch's progress (duration per phase)."""

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append(
                {
                    "rows": p.numInputRows,
                    "start": start.timestamp(),
                    "ms": dict(p.durationMs),
                    # CPU ticks just after the batch, for its steal share
                    "ticks": _cpu_ticks(),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


class Bench:
    """One run: set-up, the workload's measured loop and its checks."""

    def __init__(self, args, inputs: dict, data_dir: str, tmp: str):
        from os___mapreduceframework_spark import queries as registry

        self.args = args
        self.inputs = inputs
        self.data_dir = data_dir
        self.tmp = tmp
        self.registry = registry
        self.nproc = _cores()
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.untraced = Tracer(False)
        self.con = gate.connect(data_dir)
        self.spark = None
        self.stats = None
        self.words: list[str] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}
        self.traced_ops = 0
        self.result_rows = 0
        self.rss_mb = 0.0
        self.progress: list[dict] = []
        self._progress_mark = 0
        self.report: dict = {}
        # (traced, seconds, CPU seconds) per unit: a search round, a pass
        # over the query list, or a stream micro-batch
        self.units: list[tuple[bool, float, float]] = []
        self.last_cpu = 0.0
        # the calmer half of the timed search rounds or micro-batches,
        # which wall_s is taken over
        self.kept: list[tuple[float, ...]] = []
        self.last_ticks: tuple[list[int], list[int]] = ([], [])
        self._last_start: float | None = None

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        """``SETUP_REPS`` set-ups, each from a stopped session to warm:
        session start, package shipping and one Python worker per core.
        Each workload then warms up on its own (``warm_s``)."""
        from os___mapreduceframework_spark.session import get_session

        start, warm, total = [], [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_session(parallelism=self.nproc)
            t1 = time.perf_counter()
            self.registry._ensure_worker_imports(self.spark)
            n = self.nproc
            self.spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()
            t2 = time.perf_counter()
            start.append(t1 - t0)
            warm.append(t2 - t1)
            total.append(t2 - t0)
        self.setup_s = statistics.median(total)
        self.report["setup_reps_s"] = total
        self.layers["session.start_s"] = statistics.median(start)
        self.layers["session.warm_s"] = statistics.median(warm)
        self.spark.streams.addListener(_progress_listener(self.progress))
        if self.trace:
            self.stats = SparkStats(self.spark)
        self.rss_mb = max(self.rss_mb, self._rss())

    def _rss(self) -> float:
        return python_worker_rss_peak_mb(self.spark.sparkContext._gateway.proc.pid)

    def _pids(self) -> list[int]:
        """This process, the JVM and everything under it."""
        jvm = self.spark.sparkContext._gateway.proc.pid
        return [os.getpid(), jvm, *descendants(jvm)]

    def close(self) -> None:
        """Stop the session and wait until the JVM, and with it every
        Python worker, has exited."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait(timeout=30)

    # -- one operation --------------------------------------------------------

    def op(self, build, action, traced: bool, want=None, rows: int = 0) -> float | None:
        """Time ``action(build())``, from the call into the engine through
        the action. When ``want`` (an oracle result) is given, the action
        returns ``(columns, rows)`` and is checked after the clock stops.
        ``rows`` is the result size when the action does not return the
        result. Returns the seconds taken, or ``None`` if the operation
        failed; the CPU seconds it took are left in ``last_cpu``."""
        tr = self.tracer if traced else self.untraced
        if traced:
            self.stats.collect()  # drop what untraced operations left
        op_id = self.attempted
        self.attempted += 1
        try:
            pids = self._pids()
            cpu0 = cpu_s(pids)
            ticks0 = _cpu_ticks()
            with tr.span("op", op=op_id) as root:
                with tr.span("queries", op=op_id) as q:
                    df = build()
                with tr.span("action", op=op_id) as a:
                    result = action(df)
            self.last_cpu = cpu_s(sorted(set(pids) | set(self._pids()))) - cpu0
            self.last_ticks = (ticks0, _cpu_ticks())
            bad = None if want is None else gate.mismatch(*result, want)
        except Exception as exc:  # a raising operation counts as failed
            self.failed += 1
            self.errors.append(f"op {op_id}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        if bad is not None:
            self.failed += 1
            self.errors.append(f"op {op_id}: {bad}")
        if traced:
            self._absorb(root, q, a, op_id, len(result[1]) if isinstance(result, tuple) else rows)
        self.rss_mb = max(self.rss_mb, self._rss())
        return root.end - root.start

    def _absorb(self, root, q, a, op_id: int, rows: int) -> None:
        """Fold Spark's counters for the operation just traced into the
        per-layer totals; record its micro-batches and jobs as spans."""
        t0 = time.perf_counter()
        st = self.stats.collect()
        L = self.layers
        add = lambda k, v: L.__setitem__(k, L.get(k, 0.0) + v)  # noqa: E731
        self.traced_ops += 1
        add("queries.build_s", q.end - q.start)
        add("op_wall_s", root.end - root.start)
        jobs = sorted(st.pop("jobs"))
        add("driver.jobs", len(jobs))
        in_action = [s for s, _ in jobs if s >= a.start]
        if in_action:
            add("driver.plan_s", in_action[0] - a.start)
        for k, v in st.items():
            add(k, v)
        batches = []
        for p in self.progress[self._progress_mark:]:
            end = p["start"] + p["ms"].get("triggerExecution", 0) / 1e3
            batches.append(self.tracer.add("streaming", p["start"], end, q, op_id))
        for s, e in jobs:
            parent = next((b for b in batches if b.start <= s <= b.end), None)
            self.tracer.add("job", s, e, parent or (a if s >= a.start else q), op_id)
        self.result_rows += rows
        add("trace.collect_s", time.perf_counter() - t0)

    def _collect(self, df):
        return df.columns, df.collect()

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # -- workloads ------------------------------------------------------------

    def _search_mr(self, word: str):
        from pyspark.sql import functions as F

        from os___mapreduceframework_spark.compat import run_map_reduce
        from os___mapreduceframework_spark.sources import load_table

        names = load_table(self.spark, self.data_dir, "part").select(
            F.col("p_name").alias("key"), F.lit(word).alias("value")
        )
        out = run_map_reduce(
            names, _search_map, _search_reduce,
            mid_schema="key string, value long", out_schema="key string, value long",
        )
        return out.select(F.col("key").alias("name"), F.col("value").alias("cnt"))

    def _search_native(self, word: str):
        from os___mapreduceframework_spark.operators.search import search_count
        from os___mapreduceframework_spark.sources import load_table

        return search_count(load_table(self.spark, self.data_dir, "part"), word, name_col="p_name")

    def _more(self, t_end: float) -> bool:
        """Start another unit while one as long as the last fits in the
        run length, and until there is one unit (two under trace: one
        untraced, one traced) or ``OVERRUN_S`` more have passed with
        every attempt failing."""
        now = time.perf_counter()
        last = now - self._last_start if self._last_start else 0.0
        self._last_start = now
        short = len(self.units) < (2 if self.trace else 1)
        return now + last <= t_end or (short and now < t_end + OVERRUN_S)

    def _traced(self, i: int) -> bool:
        """Under trace, units go untraced, traced, traced, untraced, ...
        so drift during the run cancels out of the tracing overhead."""
        return self.trace and i % 4 in (1, 2)

    def run(self, seconds: float) -> None:
        wl = self.args.workload
        if wl == "search_serve":
            self.run_search(seconds)
        elif wl == "stream_ingest":
            self.run_stream(seconds)
        else:
            self.run_batch(TPCH_QUERIES if wl == "tpch_batch" else CURATION_QUERIES, seconds)

    def run_search(self, seconds: float) -> None:
        """``SEARCH_WARM_ROUNDS`` untimed rounds and
        ``NATIVE_WARM_REQUESTS`` untimed native requests, then timed
        rounds."""
        oracles: dict[str, tuple] = {}

        def want(word: str) -> tuple:
            if word not in oracles:
                oracles[word] = gate.oracle(self.con, SEARCH_ORACLE.format(word=word))
            return oracles[word]

        t0 = time.perf_counter()
        for i in range(SEARCH_WARM_ROUNDS):
            word = self.words[i % len(self.words)]
            self.op(lambda: self._search_mr(word), self._collect, False, want(word))
            self.op(lambda: self._search_native(word), self._collect, False, want(word))
        for i in range(NATIVE_WARM_REQUESTS):
            word = self.words[i % len(self.words)]
            self.op(lambda: self._search_native(word), self._collect, False, want(word))
        self.report["warm_s"] = time.perf_counter() - t0
        t_end = time.perf_counter() + seconds
        # untraced rounds: (mr_s, native_s, mr_cpu_s, native_cpu_s, steal share)
        rounds = []
        k = 0
        while self._more(t_end):
            traced = self._traced(k)
            word = self.words[(SEARCH_WARM_ROUNDS + k) % len(self.words)]
            a = self.op(lambda: self._search_mr(word), self._collect, traced, want(word))
            cpu, ticks0 = self.last_cpu, self.last_ticks[0]
            b = self.op(lambda: self._search_native(word), self._collect, traced, want(word))
            if a is not None and b is not None:
                self.units.append((traced, a + b, cpu + self.last_cpu))
                if not traced:
                    rounds.append((a, b, cpu, self.last_cpu, _steal_share(ticks0, self.last_ticks[1])))
            k += 1
        for i, name in enumerate(("mr_s", "native_s", "mr_cpu_s", "native_cpu_s")):
            self.report[name] = summary([r[i] for r in rounds])
        self.kept = _calm(rounds, 4)
        self.report["rounds"] = rounds
        self.report["rounds_used"] = len(self.kept)

    def run_batch(self, names: tuple[str, ...], seconds: float) -> None:
        """One untimed, checked warm-up pass (codegen, JIT, build-once
        artifacts), then timed passes to the noop sink."""
        qs = self.registry.queries()
        oracles = self.registry.oracle_sql()
        t0 = time.perf_counter()
        rows = {}
        for name in names:
            want = gate.oracle(self.con, oracles[name])
            rows[name] = len(want[1])
            self.op(lambda: qs[name](self.spark, self.data_dir), self._collect, False, want)
        self.report["warm_s"] = time.perf_counter() - t0
        per_query: dict[str, list[float]] = {n: [] for n in names}
        i = 0
        t_end = time.perf_counter() + seconds
        while self._more(t_end):
            traced = self._traced(i)
            times, cpu = [], 0.0
            for n in names:
                times.append(self.op(lambda: qs[n](self.spark, self.data_dir), self._noop, traced, rows=rows[n]))
                cpu += self.last_cpu
            if None not in times:
                self.units.append((traced, sum(times), cpu))
                if not traced:
                    for n, t in zip(names, times):
                        per_query[n].append(t)
            i += 1
        self.report["query_s"] = {n: summary(v) for n, v in per_query.items()}

    def run_stream(self, seconds: float) -> None:
        """Replays of the seeded corpus through incremental_span_dedup,
        one parquet file per micro-batch, each replay from a fresh
        registry. A replay of the first ``STREAM_WARM_FILES`` files warms
        up first."""
        from os___mapreduceframework_spark.streaming.incremental import incremental_span_dedup

        src = self.inputs["stream_dir"]
        warm_dir = os.path.join(self.tmp, "stream_warm")
        os.makedirs(warm_dir)
        for f in sorted(os.listdir(src))[:STREAM_WARM_FILES]:
            shutil.copy2(os.path.join(src, f), warm_dir)
        state = os.path.join(self.tmp, "stream_state")

        def replay(files: str):
            docs = (
                self.spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(files)
            )
            return incremental_span_dedup(docs, state)

        # arrival order is doc_id order, so the batch keep-first vote of
        # the registered streaming query is the oracle
        want = gate.oracle(self.con, self.registry.oracle_sql()["stream_incremental_spans"])
        t0 = time.perf_counter()
        self.op(lambda: replay(warm_dir), self._collect, False)
        self.report["warm_s"] = time.perf_counter() - t0
        t_end = time.perf_counter() + seconds
        jsc = self.spark._jsc.sc()
        # untraced micro-batches: (triggerExecution s, steal share)
        batches, replays, docs = [], [], 0
        i = 0
        while self._more(t_end):
            traced = self._traced(i)
            jsc.listenerBus().waitUntilEmpty()
            self._progress_mark = len(self.progress)
            t = self.op(lambda: replay(src), self._collect, traced, want)
            jsc.listenerBus().waitUntilEmpty()
            events = self.progress[self._progress_mark:]
            prog = [p for p in events if p["rows"] > 0]
            if t is not None and len(prog) == gen.STREAM_FILES:
                self.units.append((traced, t, self.last_cpu / len(prog)))
                if not traced:
                    replays.append(t)
                    # this query's numInputRows is twice a batch's
                    # documents, so count the corpus instead
                    docs += self.inputs["tables"]["documents"]["rows"]
                    ticks = self.last_ticks[0]
                    for p in events:
                        if p["rows"] > 0:
                            batches.append((p["ms"]["triggerExecution"] / 1e3, _steal_share(ticks, p["ticks"])))
                        ticks = p["ticks"]
            if traced:
                self._absorb_stream(prog, state)
            i += 1
        self.report["batch_s"] = summary([b[0] for b in batches])
        self.kept = _calm(batches, 1)
        self.report["batches"] = batches
        self.report["batches_used"] = len(self.kept)
        self.report["replay_s"] = summary(replays)
        self.report["docs_per_s"] = docs / sum(replays) if replays else None

    def _absorb_stream(self, prog: list[dict], state: str) -> None:
        L = self.layers
        add = lambda k, v: L.__setitem__(k, L.get(k, 0.0) + v)  # noqa: E731
        ms = lambda p, *ks: sum(p["ms"].get(k, 0) for k in ks) / 1e3  # noqa: E731
        add("streaming.batches", len(prog))
        for p in prog:
            add("streaming.add_batch_s", ms(p, "addBatch"))
            add("streaming.plan_s", ms(p, "queryPlanning"))
            add("streaming.offsets_s", ms(p, "latestOffset", "getBatch"))
            add("streaming.commit_s", ms(p, "walCommit", "commitOffsets"))
        files, size = _dir_size(os.path.join(state, "window_registry"))
        L["streaming.registry_files"] = files
        L["streaming.registry_mb"] = size / MB

    # -- results --------------------------------------------------------------

    def metrics(self) -> dict[str, tuple[float, str]]:
        wl = self.args.workload
        if self.trace:
            return self._layer_metrics()
        plain = [u for u in self.units if not u[0]]
        wall = statistics.median(u[1] for u in plain) if plain else 0.0
        cpu = statistics.median(u[2] for u in plain) if plain else 0.0
        if wl == "stream_ingest":
            wall = statistics.median(b[0] for b in self.kept) if self.kept else 0.0
        elif wl == "search_serve":
            # An mr request takes ~5x a native one, so a median of their
            # sum would hide a native slowdown. The geometric mean of the
            # class medians moves by half the log of either class's change.
            med = lambda i: statistics.median(r[i] for r in self.kept) if self.kept else None  # noqa: E731
            wall = _geomean(med(0), med(1))
            cpu = _geomean(med(2), med(3))
        return {
            "setup_s": (self.setup_s, "s"),
            "wall_s": (wall, "s"),
            "cpu_s": (cpu, "s"),
            "worker_rss_peak_mb": (self.rss_mb, "MB"),
        }

    def _layer_metrics(self) -> dict[str, tuple[float, str]]:
        L = dict(self.layers)
        n = max(self.traced_ops, 1)
        out: dict[str, tuple[float, str]] = {
            "session.start_s": (L["session.start_s"], "s"),
            "session.warm_s": (L["session.warm_s"], "s"),
        }
        for k in PER_OP:
            out[k] = (L.get(k, 0.0) / n, "s" if k.endswith("_s") else "count")
        for k, name in PER_OP_MB.items():
            out[name] = (L.get(k, 0.0) / n / MB, "MB")
        wall = L.get("op_wall_s", 0.0)
        out["jvm.slot_idle_share"] = (
            1.0 - L.get("jvm.task_run_s", 0.0) / (wall * self.nproc) if wall else 0.0, "share"
        )
        out["python.rss_peak_mb"] = (self.rss_mb, "MB")
        out["sources.rows_scanned_per_result"] = (
            L.get("sources.rows_scanned", 0.0) / max(self.result_rows, 1), "ratio"
        )
        nb = max(L.get("streaming.batches", 0.0), 1.0)
        out["streaming.batches"] = (L.get("streaming.batches", 0.0) / n, "count")
        for k in ("add_batch_s", "plan_s", "offsets_s", "commit_s"):
            out[f"streaming.{k}"] = (L.get(f"streaming.{k}", 0.0) / nb, "s")
        out["streaming.registry_mb"] = (L.get("streaming.registry_mb", 0.0), "MB")
        out["streaming.registry_files"] = (L.get("streaming.registry_files", 0.0), "count")
        selfs = self.tracer.self_times()
        out["queries.self_s"] = (selfs.get("queries", 0.0) / n, "s")
        out["driver.self_s"] = ((selfs.get("action", 0.0) + selfs.get("op", 0.0)) / n, "s")
        out["jvm.job_s"] = (selfs.get("job", 0.0) / n, "s")
        out["streaming.self_s"] = (selfs.get("streaming", 0.0) / n, "s")
        plain = [u[1] for u in self.units if not u[0]]
        traced = [u[1] for u in self.units if u[0]]
        over = statistics.median(traced) - statistics.median(plain) if plain and traced else 0.0
        out["trace.overhead_s"] = (over, "s")
        out["trace.overhead_share"] = (over / statistics.median(plain) if plain else 0.0, "share")
        out["trace.collect_s"] = (L.get("trace.collect_s", 0.0) / n, "s")
        return out


def _calm(units: list[tuple], steal: int) -> list[tuple]:
    """The calmer half of ``units``: those whose field ``steal``, the
    share of the VM's CPU time the hypervisor gave to other guests
    during the unit, is at most the median one. On a 4-vCPU VM, search
    rounds with 3-8 % stolen took 20-40 % longer than rounds with none."""
    if not units:
        return units
    m = statistics.median(u[steal] for u in units)
    return [u for u in units if u[steal] <= m]


def _geomean(a: float | None, b: float | None) -> float:
    return (a * b) ** 0.5 if a and b else 0.0


def _cores() -> int:
    """The cores this process may run on, as ``nproc`` counts them.
    ``os.cpu_count()`` counts every CPU of the machine, so in a container
    given a few of them a session that size would oversubscribe."""
    return len(os.sched_getaffinity(0))


def _load_1m() -> float:
    return os.getloadavg()[0]


def _cpu_ticks() -> list[int]:
    """Aggregate CPU ticks from ``/proc/stat`` (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests: a noisy
    neighbour shows here, not in the load average."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    tmp = _isolate(work)
    # Arrow's thread pool in every Python worker sizes itself by all the
    # machine's CPUs; cap it, as the session is, at the usable cores
    os.environ.setdefault("OMP_THREAD_LIMIT", str(_cores()))
    sys.path.insert(0, ROOT)
    try:
        import os___mapreduceframework_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    load_start, ticks_start = _load_1m(), _cpu_ticks()
    data_dir = os.path.join(work, "data")
    t0 = time.perf_counter()
    inputs = gen.generate(args.seed, data_dir)
    gen_s = time.perf_counter() - t0
    bench = Bench(args, inputs, data_dir, tmp)
    bench.words = gen.search_words(args.seed)
    try:
        bench.setup()
        bench.run(args.seconds)
        metrics = bench.metrics()
    finally:
        bench.close()
        if bench.trace:
            bench.tracer.dump(os.path.join(work, "spans.json"))
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(data_dir, ignore_errors=True)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": bench.nproc,
        "load_1m": [load_start, _load_1m()],
        "cpu_steal_share": _steal_share(ticks_start, _cpu_ticks()),
        "inputs": inputs["tables"],
        "gen_s": gen_s,
        "failed_share": bench.failed / max(bench.attempted, 1),
        "errors": bench.errors[:10],
        **bench.report,
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0 and bench.attempted > 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
