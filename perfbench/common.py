"""Shared machinery: host-sized session settings, output comparison,
statistics, the workload base class and the per-layer tracer.

The tracer records spans only around calls the benchmark makes into the
library's public functions; it never patches library code. Spark-side
numbers come from the JVM status store (no UI or REST port) and from
each collected query's ``queryExecution().tracker()``.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from py4j.protocol import Py4JJavaError

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def nearest_rank(values: list[float], p: float, weights=None) -> tuple[float, int]:
    """The nearest-rank ``p``-th percentile of ``values`` and its rank.
    With ``weights`` a sample counts with its weight: the value is the
    first, in sorted order, where the cumulative weight reaches ``p`` %
    of the total (equal weights give the plain nearest rank)."""
    if not len(values):
        return float("nan"), 0
    order = np.argsort(values, kind="stable")
    xs = np.asarray(values, dtype=float)[order]
    w = np.ones(len(xs)) if weights is None else np.asarray(weights, dtype=float)[order]
    cum = np.cumsum(w)
    # the relative slack absorbs rounding in the cumulative sum
    i = int(np.searchsorted(cum, p / 100 * cum[-1] * (1 - 1e-9)))
    return float(xs[i]), i + 1


def tail_percentile(values: list[float], weights=None, beyond: int = 10) -> tuple[float, int]:
    """The highest whole percentile (nearest-rank, weighted as in
    ``nearest_rank``) that still has at least ``beyond`` samples
    strictly after its rank, and its value. A run too short to have that
    many samples beyond its median reports the median (p50), where the
    maximum would jump to the costliest op."""
    n = len(values)
    for p in range(99, 49, -1):
        value, rank = nearest_rank(values, p, weights)
        if n - rank >= beyond:
            return value, p
    return nearest_rank(values, 50, weights)[0], 50


def median(values: list[float]) -> float:
    return float(np.median(values)) if values else float("nan")


def deck_weights(kinds: list[str], deck: list[str]) -> list[float]:
    """Per-sample weights that give every op kind its share of the deck,
    however many of its ops a run happened to time: a run that ends
    partway through a round still measures the deck's mix."""
    seen = {k: kinds.count(k) for k in set(kinds)}
    share = {k: deck.count(k) for k in seen}
    total = sum(share.values())
    return [share[k] / total / seen[k] for k in kinds]


def process_age_s() -> float:
    """Seconds since this process started, Python start-up included
    (Linux: the start time in /proc/self/stat, in clock ticks since boot)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-9) -> str | None:
    """None when the frames hold the same rows (any order); otherwise a
    one-line reason. Floats compare with relative tolerance ``rtol``
    because Spark and DuckDB sum in different orders."""
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} rows"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind in "fc" or bv.dtype.kind in "fc":
            av, bv = av.astype(float), bv.astype(float)
            ok = np.isclose(av, bv, rtol=rtol, atol=0.0, equal_nan=True)
        else:
            ok = av == bv
        if not np.all(ok):
            i = int(np.argmax(~ok))
            return f"column {c} row {i}: {av[i]!r} != {bv[i]!r}"
    return None


# ---------------------------------------------------------------------------
# host-sized session
# ---------------------------------------------------------------------------


def host_info() -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"nproc": nproc, "ram_gb": round(ram / 2**30, 1)}


def driver_memory_gb(ram_gb: float) -> int:
    """A sixth of physical RAM, between 1 and 8 GB: room for the Python
    process, its Arrow buffers and the pandas-UDF workers beside the JVM."""
    return int(max(1, min(8, ram_gb // 6)))


def spark_conf(work: str, info: dict) -> dict[str, str]:
    """Session settings derived from the host; every scratch path the
    JVM or its Python workers use stays inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": f"{driver_memory_gb(info['ram_gb'])}g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
        f" -Dderby.system.home={tmp} -XX:-UsePerfData",
    }


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

# per-layer metric -> unit, in the order BENCHMARK.json lists them
LAYER_UNITS = {
    "api.construct_s": "s",
    "api.py4j_calls": "count",
    "api.construct_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "io.open_s": "s",
    "io.write_s": "s",
    "io.write_bytes_per_row": "B",
    "io.files_written": "count",
    "spatial.bound_s": "s",
    "spatial.rows_scanned_per_row_returned": "ratio",
    "units.with_units_s": "s",
    "dataset.verbs_s": "s",
    "collection.cascade_s": "s",
    "collection.evaluate_s": "s",
    "pipeline.dedup_s": "s",
    "pipeline.text_s": "s",
    "pipeline.similarity_s": "s",
    "joins.range_join_s": "s",
    "analysis.mass_function_s": "s",
    "entry.query_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.core_busy_frac": "ratio",
    "exec.gc_s": "s",
    "exec.input_bytes": "B",
    "exec.input_rows": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_records_per_result_row": "ratio",
    "exec.spill_bytes": "B",
    "exec.peak_execution_memory_bytes": "B",
    "exec.failed_tasks": "count",
    "exec.stage_retries": "count",
    "collect.s": "s",
    "collect.rows": "count",
    "failed_op_frac": "ratio",
    "trace.overhead_frac": "ratio",
}

# span name -> the per-layer metric its self time adds to
SPAN_METRIC = {
    "io.open": "io.open_s",
    "io.write": "io.write_s",
    "spatial.bound": "spatial.bound_s",
    "units.with_units": "units.with_units_s",
    "dataset.verbs": "dataset.verbs_s",
    "collection.cascade": "collection.cascade_s",
    "collection.evaluate": "collection.evaluate_s",
    "pipeline.dedup": "pipeline.dedup_s",
    "pipeline.text": "pipeline.text_s",
    "pipeline.similarity": "pipeline.similarity_s",
    "joins.range_join": "joins.range_join_s",
    "analysis.mass_function": "analysis.mass_function_s",
    "entry.query": "entry.query_s",
    "collect": "collect.s",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class OpTrace:
    """Spans and counts of one op; spans share the op's identity."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    frames: list = field(default_factory=list)  # collected DataFrames
    action_at: float | None = None
    py4j_at_action: int | None = None
    jobs_at_action: int | None = None

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one
    attribute test. ``collect`` is the one place ops turn a DataFrame
    into rows, so it also marks where construction ends. While an
    enabled tracer's op runs, the gateway client counts py4j calls;
    between its ops the client is the plain one, so ops of an untraced
    runner on the same session pay nothing for the counting."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.op: OpTrace | None = None
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.jobs_so_far = None  # set per op by the runner when tracing
        if enabled:
            self._client = spark.sparkContext._gateway._gateway_client
            self._send = self._client.send_command

    def _counted(self, *a, **k):
        self.py4j_calls += 1
        return self._send(*a, **k)

    def begin(self) -> OpTrace:
        self.op = OpTrace()
        self._stack = []
        if self.enabled:
            self._client.send_command = self._counted
        return self.op

    def end(self) -> None:
        if self.enabled:
            self._client.send_command = self._send

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        op = self.op
        op.spans.append(Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None))
        idx = len(op.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            op.spans[idx].end = time.perf_counter()

    def mark_action(self) -> None:
        """End of construction: the first action of the op starts now."""
        op = self.op
        if op is not None and op.action_at is None:
            op.action_at = time.perf_counter()
            op.py4j_at_action = self.py4j_calls
            if self.enabled and self.jobs_so_far is not None:
                op.jobs_at_action = self.jobs_so_far()

    def count(self, name: str, value: float) -> None:
        if self.op is not None:
            self.op.counts[name] = self.op.counts.get(name, 0.0) + value

    def collect(self, df) -> pd.DataFrame:
        self.mark_action()
        if self.op is not None:
            self.op.frames.append(df)
        with self.span("collect"):
            pdf = df.toPandas()
        self.count("collect.rows", len(pdf))
        return pdf


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase of the query that ``df`` executed."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


class StageMetrics:
    """Per-op Spark metrics from the status store, by job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, jobs: list[int]) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        m = dict.fromkeys(
            (
                "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s",
                "exec.executor_cpu_s", "exec.gc_s", "exec.input_bytes",
                "exec.input_rows", "exec.shuffle_write_bytes",
                "exec.shuffle_read_bytes", "exec.shuffle_write_records",
                "exec.spill_bytes", "exec.peak_execution_memory_bytes",
                "exec.failed_tasks", "exec.stage_retries", "io.bytes_written",
                "io.rows_written",
            ),
            0.0,
        )
        m["exec.jobs"] = float(len(jobs))
        tracker = self.sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never attempted: a skipped stage whose output was reused
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += sd.numTasks()
                m["exec.executor_run_s"] += sd.executorRunTime() / 1e3
                m["exec.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                m["exec.gc_s"] += sd.jvmGcTime() / 1e3
                m["exec.input_bytes"] += sd.inputBytes()
                m["exec.input_rows"] += sd.inputRecords()
                m["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                m["exec.shuffle_write_records"] += sd.shuffleWriteRecords()
                m["exec.spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
                m["exec.peak_execution_memory_bytes"] = max(
                    m["exec.peak_execution_memory_bytes"], sd.peakExecutionMemory()
                )
                m["exec.failed_tasks"] += sd.numFailedTasks()
                m["exec.stage_retries"] += sd.attemptId()
                m["io.bytes_written"] += sd.outputBytes()
                m["io.rows_written"] += sd.outputRecords()
        return m


class WorkloadBase:
    """What the three workloads share: a scratch directory for the
    outputs of write ops, emptied after every op, and the default
    output check against a DuckDB reference frame."""

    name = ""
    deck: list[str] = []
    writes: set[str] = set()
    rtol = 1e-9
    warm_passes = 1  # warm-up ops of every kind before the timed loop

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        self.out = os.path.join(work, "out")
        self.n_out = 0

    def out_path(self, prefix: str) -> str:
        self.n_out += 1
        return os.path.join(self.out, f"{prefix}_{self.n_out}")

    def after(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def params(self, kind: str, rng) -> dict:
        return {}

    def warm_params(self, kind: str, rng) -> dict:
        """Parameters of the one warm-up op of ``kind``."""
        return self.params(kind, rng)

    def expected(self, con, kind: str, p: dict) -> pd.DataFrame:
        raise NotImplementedError

    def check(self, con, kind: str, p: dict, got: pd.DataFrame) -> str | None:
        return frames_match(got, self.expected(con, kind, p), self.rtol)


def count_files(path: str) -> int:
    """Parquet part files under ``path``."""
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def release_caches(spark, frames) -> None:
    """Drop what an op's execution cached, so the next op recomputes
    from Parquet: the operators' registered intermediates
    (``_oc_cached``) and anything else in the session cache."""
    for df in frames:
        for cached in getattr(df, "_oc_cached", []):
            cached.unpersist()
    spark.catalog.clearCache()
