#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (collect to count) — timings
include building the query (Python construction, plus any eager
jobs it runs) and the full scan->shuffle->result path.
Each headline query runs three times and reports the fastest run:
the steady-state number a long-lived cluster sees (the first run
pays one-time JVM JIT, codegen compilation, and file-listing costs
that amortize to zero in production, and interleaved same-code
measurements on this shared VM swing +-15% run-to-run — best-of-3
suppresses that noise). Operators that persist() an intermediate
WITHIN one execution (the §5 reused-subtree caches) are unpersisted
and the session cache cleared BETWEEN runs (r15 fix): Spark's
CacheManager plan-matches the rebuilt query, so without the release
runs 2-3 silently read the cache materialized in run 1 and best-of-3
recorded a cross-run-cache number no single execution ever sees
(r14's "Asked to cache already cached data" WARNs). Every timed run
now recomputes from parquet, including its own cache materialization.

Noise self-identification (added after round 9, where a mid-suite
host-noise window inflated the recorded headline 27.2s vs a
quiet-window 9.5s while BOTH start/end calibration probes read
quiet): flags any query whose max/min run spread exceeds
NOISE_SPREAD (3x), quiet-retries every flagged query once after the
suite (taking the better best-of), and annotates each query with a
CPU micro-probe reading taken immediately before it. Every gate acts
on the current run only: times recorded on another host are never
a reference.

Per-layer breakdown: after its timed runs each query runs once more,
untimed, through perfbench's tracer (``perfbench.run.Runner`` with
``trace=True``): construction time, py4j calls, jobs started before
the action, Catalyst phases and the status store's stage metrics.
The record is aggregated by ``perfbench.run.aggregate_layers`` into
the same keys ``perfbench/run.py --trace 1`` reports, printed as one
``# layers <query> {...}`` stderr line and stored in the sidecar's
``query_layers``.

Output contract: stdout's LAST line is the compact driver JSON
(<1.5 KB — the driver keeps only the final ~2000 chars, r10's 4.6 KB
line was truncated into an unparseable artifact); the full per-run
diagnostics (query_runs, query_spread, micro_probe_sec,
query_layers) go to the BENCH_DETAIL.json sidecar next to this script.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from opencosmo_spark import get_spark
from perfbench import common
from perfbench.run import Runner, aggregate_layers

# The 18 headline queries fixed since round 1 — the "value" total stays
# round-over-round comparable. Later operators are timed separately in
# "extra_queries" (reported, but excluded from the headline total).
BENCH_QUERIES = [
    "q01_scan_filter_project",
    "q08_sort_topk",
    "q13_zscore",
    "q15_tpch_q1",
    "q16_degrade",
    "q21_semi_cascade",
    "q22_join_nested_agg",
    "q26_window_topk",
    "q27_window_running",
    "q28_time_window",
    "q29_spatial_box",
    "q31_dedup_fingerprint",
    "q33_cosine_topk",
    "q35_minhash_lsh",
    "q37_sessionize",
    "q39_ngram_jaccard",
    "q40_ann_lsh",
    "q44_asof_join",
]

EXTRA_QUERIES = [
    "q43_grouping_sets",
    "q47_dedup_clusters",
    "q49_ivf_lloyd_step",
    "q50_stratified_sample",
    "q51_tpch_q3",
    "q58_decontaminate",
    "q59_pii_scrub",
    "q60_semantic_dedup",
    "q61_shard_assign",
    "q62_line_dedup",
    "q63_bm25_topk",
    "q64_nb_classify",
    "q65_dup_spans",
    "q66_pair_counts",
    "q67_take_range_distributed",
]

# max/min run-time ratio above which a query's measurement window is
# presumed contaminated by host noise (CPU steal on this shared VM).
# Quiet-window best-of-3 spreads sit at 1.0-1.5x; genuine plan changes
# move ALL three runs together, so a 3x intra-query spread can only be
# the host.
NOISE_SPREAD = 3.0

# Chronic noise-suspects (flagged two consecutive rounds, r12-r13):
# both are cache()-heavy dedup queries whose FIRST timed run still
# pays executor-side cache materialization, so run 1 reads ~20% slow
# and the spread gate fires on warmup, not host noise. One untimed
# warmup run before the timed best-of-3 pins them; everything else
# keeps the cheaper cold protocol. (Since the r15 between-run cache
# release, the warm run no longer seeds any cache — it still absorbs
# per-query codegen/JIT warmup, so the lane is kept.)
WARM_LANE = {"q31_dedup_fingerprint", "q35_minhash_lsh"}


class BenchQueries(common.WorkloadBase):
    """The bench queries as a perfbench workload, so perfbench's Runner
    traces them: an op is one query (its name is the op kind), built
    inside the ``entry.query`` span and ended by the count the timed
    runs take. ``DataFrame.count()`` executes ``groupBy().count()``;
    collecting that frame runs the same plan and keeps its
    QueryExecution, whose Catalyst phases the record reads."""

    name = "bench"

    def __init__(self, queries: dict, sf_dir: str):
        self.queries, self.sf_dir = queries, sf_dir

    def after(self) -> None:
        pass  # no query writes output

    def run(self, spark, tr, kind: str, p: dict) -> int:
        with tr.span("entry.query"):
            df = self.queries[kind](spark, self.sf_dir)
        tr.mark_action()
        counted = df.groupBy().count()
        tr.op.frames += [df, counted]
        with tr.span("collect"):
            n = counted.collect()[0][0]
        tr.count("collect.rows", float(n))
        return n


def _traced_layers(runner: Runner, name: str) -> dict[str, float]:
    """One untimed traced run of ``name``: its per-layer record,
    aggregated as ``perfbench/run.py --trace 1`` aggregates an op kind
    and printed in the same ``# layers`` line."""
    rec = runner.one(name, {})
    if rec["error"] is not None:
        raise RuntimeError(rec["error"])
    m = rec["layers"]
    per = aggregate_layers([m], runner.spark.sparkContext.defaultParallelism)
    per["op.s"] = m["op.s"]
    per["exec.run_per_op_s"] = per["exec.executor_run_s"] / per["op.s"]
    per = {k: round(v, 6) for k, v in per.items()}
    print(f"# layers {name} {json.dumps(per)}", file=sys.stderr)
    return per


def _calibration_probe(spark) -> float:
    """Fixed CPU-bound JVM probe, independent of the repo's code and of
    the data on disk: an arithmetic aggregation over a generated
    10⁷-row range. Its runtime tracks host speed (CPU clock, JIT,
    steal) and nothing else, so cross-round headline comparisons can
    divide by it — rounds r6→r8 showed uniform 1.2-1.5× swings on
    UNCHANGED query code that were pure host drift (SCALE.md). Best-of-3
    like the queries; the probe runs before the suite so it also
    absorbs first-job JVM warmup."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        x = F.col("id").cast("double")
        spark.range(0, 10_000_000, 1, 32).agg(
            F.sum(F.sin(x * 1e-6) * F.cos(x * 1e-7) + F.sqrt(x))
        ).collect()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def _micro_probe() -> float:
    """~10ms pure-CPU probe (no Spark job overhead) run immediately
    before each query. Host CPU steal slows this the same way it slows
    the executors, so a per-query probe trace lets a reader see WHEN in
    the suite the host got noisy — the start/end JVM probes proved
    blind to a noise window that opened and closed mid-suite (r9)."""
    t0 = time.perf_counter()
    acc = 0.0
    for i in range(200_000):
        acc += math.sin(i * 1e-3)
    _ = acc
    return round(time.perf_counter() - t0, 4)


def _time_query(fn, spark, sf_dir, reps: int = 3, warm: bool = False):
    """Run a query `reps` times; return (all run times, row count).
    Caches are released BETWEEN runs (``common.release_caches``) so
    each timed run is a full single-execution recompute: without it,
    CacheManager plan-matching let runs 2-3 read run 1's cache (r14
    audit). ``warm`` adds one UNTIMED run first (WARM_LANE queries — absorbs codegen/JIT
    warmup; its caches are released too)."""
    runs = []
    n = 0
    if warm:
        df = fn(spark, sf_dir)
        df.count()
        common.release_caches(spark, [df])
    for _ in range(reps):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        runs.append(round(time.perf_counter() - t0, 3))
        common.release_caches(spark, [df])
    return runs, n


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    qs = entrymod.queries()

    # warm the JVM + parquet footers with a trivial action
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    calibration = _calibration_probe(spark)
    print(f"# calibration_probe: {calibration:.3f}s", file=sys.stderr)

    # one failing query must not zero the whole artifact: record its
    # error, keep timing the rest, total over the survivors
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    spreads: dict[str, float] = {}
    probes: dict[str, float] = {}
    errors: dict[str, str] = {}
    noise_suspect: list[str] = []
    layers: dict[str, dict[str, float]] = {}
    layer_errors: dict[str, str] = {}
    runner = Runner(spark, BenchQueries(qs, sf_dir), trace=True)

    def run_suite(names, bucket, tag=""):
        for name in names:
            fn = qs.get(name)
            if fn is None:
                continue
            probes[name] = _micro_probe()
            try:
                runs, n = _time_query(
                    fn, spark, sf_dir, warm=name in WARM_LANE
                )
            except Exception as e:  # noqa: BLE001 — isolate per query
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
                continue
            best = min(runs)
            spread = round(max(runs) / max(best, 1e-9), 2)
            all_runs[name] = runs
            spreads[name] = spread
            bucket[name] = round(best, 3)
            why = ""
            if spread > NOISE_SPREAD:
                noise_suspect.append(name)
                why = " [noise-suspect: spread]"
            print(
                f"# {name}: {best:.3f}s (runs={runs}, spread={spread}x,"
                f" {n} rows){tag}{why}",
                file=sys.stderr,
            )
            try:
                layers[name] = _traced_layers(runner, name)
            except RuntimeError as e:  # a failed traced run loses one record
                layer_errors[name] = str(e)[:500]
                print(f"# layers {name}: ERROR {layer_errors[name]}", file=sys.stderr)

    run_suite(BENCH_QUERIES, timings)

    # extras get the same best-of-3 protocol as the headliners: on a
    # shared VM with ±15% run-to-run swing, single-shot extras made
    # round-over-round deltas unclassifiable (r6's q63 "regression"
    # was pure single-shot noise — see SCALE.md)
    extra: dict[str, float] = {}
    run_suite(EXTRA_QUERIES, extra, tag=" [extra]")

    # quiet-retry: any query whose intra-run spread exceeded the noise
    # gate gets one more best-of-3 AFTER the suite (by which time a
    # transient noise window has typically closed). The final recorded
    # time is the better of the two best-ofs — the steady-state number.
    retried: dict[str, float] = {}
    for name in noise_suspect:
        fn = qs[name]
        try:
            runs, _n = _time_query(fn, spark, sf_dir)
        except Exception:  # noqa: BLE001 — retry is best-effort
            continue
        retry_best = min(runs)
        retried[name] = round(retry_best, 3)
        bucket = timings if name in timings else extra
        if retry_best < bucket[name]:
            bucket[name] = round(retry_best, 3)
        all_runs[name] = all_runs[name] + runs
        print(
            f"# {name}: quiet-retry runs={runs} -> recorded"
            f" {bucket[name]:.3f}s",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)

    # second probe AFTER the suite: a single start-of-run probe can't
    # see interference that arrives mid-suite (observed r9: probe
    # 0.44 s, then queries 4-8x their quiet-window times minutes
    # later) — the start/end pair brackets the run, and the per-query
    # micro-probe trace fills in the middle
    calibration_end = _calibration_probe(spark)
    print(f"# calibration_probe_end: {calibration_end:.3f}s", file=sys.stderr)

    # The driver records only the LAST ~2000 chars of stdout, so the
    # final line must stay compact (<1.5 KB) or the headline total is
    # truncated out of the round artifact (this exact failure produced
    # BENCH_r10.json "parsed": null). Full per-run diagnostics go to
    # the BENCH_DETAIL.json sidecar next to this script.
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra,
        "noise_suspect": noise_suspect,
        "quiet_retry": retried,
        "calibration_sec": calibration,
        "calibration_end_sec": calibration_end,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    detail = dict(
        out,
        query_runs=all_runs,
        query_spread=spreads,
        micro_probe_sec=probes,
        query_layers=layers,
    )
    if layer_errors:
        detail["layer_errors"] = layer_errors
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(f"# full diagnostics -> {detail_path}", file=sys.stderr)
    except OSError as e:  # diagnostics are best-effort, never fatal
        print(f"# BENCH_DETAIL.json write failed: {e}", file=sys.stderr)
    line = json.dumps(out, separators=(",", ":"))
    print(f"# driver line: {len(line)} bytes", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
