#!/usr/bin/env python3
"""Repository benchmark: one seeded, single-client, closed-loop workload
against the public API, every op's output checked against DuckDB.

    python3 perfbench/run.py --workload halo_catalog --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A readable summary goes to standard error.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402

WORKLOADS = ("halo_catalog", "corpus_dedup", "headline_sql")


def schedule(wl, rng):
    """Endless op stream: each round deals the workload's deck in a
    seeded order, so every op kind keeps its share in any run length."""
    while True:
        for i in rng.permutation(len(wl.deck)):
            kind = wl.deck[i]
            yield kind, wl.params(kind, rng)


class Runner:
    """Runs ops one at a time (one client, closed loop). With ``trace``
    each op also gets its per-layer record."""

    def __init__(self, spark, wl, trace: bool):
        self.spark = spark
        self.wl = wl
        self.tr = common.Tracer(trace, spark)
        self.stages = common.StageMetrics(spark) if trace else None

    def one(self, kind: str, p: dict) -> dict:
        spark, tr = self.spark, self.tr
        group = f"{self.wl.name}:{kind}"
        spark.sparkContext.setJobGroup(group, f"{group} {json.dumps(p)}")
        op = tr.begin()
        if self.stages is not None:
            before = self.stages.group_jobs(group)
            tr.jobs_so_far = lambda: self._jobs_since(group, before)
            py4j0 = tr.py4j_calls
        t0 = time.perf_counter()
        got, error = None, None
        try:
            got = self.wl.run(spark, tr, kind, p)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            error = f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        tr.end()
        common.release_caches(spark, op.frames)
        self.wl.after()
        # the op's share of the loop: its latency plus the clean-up after it
        cycle = time.perf_counter() - t0
        rec = {"kind": kind, "p": p, "s": dt, "cycle": cycle, "got": got, "error": error}
        if self.stages is not None and error is None:
            rec["layers"] = self._layers(op, t0, dt, py4j0, before, group)
        return rec

    def _jobs_since(self, group: str, before: set) -> int:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self.stages.group_jobs(group) - before)

    def _layers(self, op, t0: float, dt: float, py4j0: int, before: set, group: str) -> dict:
        m = self.stages.collect(sorted(self.stages.group_jobs(group) - before))
        for span, secs in op.self_times().items():
            key = common.SPAN_METRIC[span]
            m[key] = m.get(key, 0.0) + secs
        # an op that never marked its action was construction throughout
        action_at = op.action_at if op.action_at is not None else t0 + dt
        py4j_at = op.py4j_at_action if op.py4j_at_action is not None else self.tr.py4j_calls
        m["api.construct_s"] = action_at - t0
        m["api.py4j_calls"] = float(py4j_at - py4j0)
        m["api.construct_jobs"] = float(op.jobs_at_action or 0)
        for df in op.frames:
            for phase, secs in common.catalyst_phases(df).items():
                key = f"catalyst.{phase}_s"
                m[key] = m.get(key, 0.0) + secs
        m.update(op.counts)
        m["op.s"] = dt
        return m

    def loop(self, ops, seconds: float) -> list[dict]:
        """Ops until ``seconds`` have passed, and at least one whole
        round, so every op kind is measured."""
        recs = []
        start = time.perf_counter()
        for kind, p in ops:
            if len(recs) >= len(self.wl.deck) and time.perf_counter() - start >= seconds:
                break
            recs.append(self.one(kind, p))
        return recs


def verify(wl, recs: list[dict], work: str) -> None:
    """Check every op's own result against its reference; runs after
    the timed loop, so no reference work is inside a timed window."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb')}'")
    for r in recs:
        if r["error"] is None:
            try:
                why = wl.check(con, r["kind"], r["p"], r["got"])
            except Exception as e:  # noqa: BLE001 — a reference error fails the op
                why = f"check raised {type(e).__name__}: {e}"
            if why is not None:
                r["error"] = f"wrong output: {why}"
        r["got"] = None
    con.close()


def end_to_end(wl, recs: list[dict], setup_s: float) -> tuple[dict, dict]:
    """Latency statistics weight each op by its kind's share of the
    deck (``common.deck_weights``); ops per second is the inverse of the
    weighted mean time an op holds the loop."""
    ok = [r for r in recs if r["error"] is None]
    lat = [r["s"] for r in ok]
    w = common.deck_weights([r["kind"] for r in ok], wl.deck)
    writes = [r["s"] for r in ok if r["kind"] in wl.writes]
    tail, pct = common.tail_percentile(lat, w)
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (1 / sum(wi * r["cycle"] for wi, r in zip(w, ok)), "1/s"),
        "op_latency_p50_s": (common.nearest_rank(lat, 50, w)[0], "s"),
        "op_latency_tail_s": (tail, "s"),
        "write_latency_p50_s": (common.nearest_rank(writes, 50)[0], "s"),
    }
    kinds: dict[str, list[float]] = {}
    for r in ok:
        kinds.setdefault(r["kind"], []).append(r["s"])
    notes = {
        "ops": len(lat), "write_ops": len(writes), "tail_percentile": pct,
        "p50_by_kind": {k: round(common.median(v), 3) for k, v in kinds.items()},
    }
    return metrics, notes


RUN_LEVEL = ("failed_op_frac", "trace.overhead_frac")  # not per op
RATIOS = {
    # metric: (numerator, denominator) summed over the traced ops
    "exec.core_busy_frac": ("exec.executor_run_s", "core_s"),
    "exec.shuffle_records_per_result_row": ("exec.shuffle_write_records", "collect.rows"),
    "io.write_bytes_per_row": ("io.bytes_written", "io.rows_written"),
    "spatial.rows_scanned_per_row_returned": ("bound.input_rows", "spatial.rows_returned"),
}


def aggregate_layers(layer_recs: list[dict], nproc: int) -> dict[str, float]:
    """Per-op means of additive metrics, ratios of sums for ratios, the
    maximum for peak memory."""
    n = max(len(layer_recs), 1)
    tot: dict[str, float] = {}
    for m in layer_recs:
        m = dict(m, core_s=m["op.s"] * nproc)
        if "spatial.rows_returned" in m:
            m["bound.input_rows"] = m["exec.input_rows"]
        for k, v in m.items():
            tot[k] = tot.get(k, 0.0) + v
    out = {}
    for name in common.LAYER_UNITS:
        if name in RUN_LEVEL:
            continue
        if name in RATIOS:
            num, den = RATIOS[name]
            out[name] = tot.get(num, 0.0) / tot[den] if tot.get(den) else 0.0
        elif name == "exec.peak_execution_memory_bytes":
            out[name] = max((m.get(name, 0.0) for m in layer_recs), default=0.0)
        else:
            out[name] = tot.get(name, 0.0) / n
    return out


def measure(args, wl, spark) -> dict:
    """The session is up and the workload prepared; warm up, then time
    the ops (and trace them). Set-up ends where the timed loop starts."""
    import numpy as np

    runner = Runner(spark, wl, trace=False)
    t0 = time.perf_counter()
    warm_rng = np.random.default_rng([args.seed, 2])
    for _ in range(wl.warm_passes):
        for kind in dict.fromkeys(wl.deck):
            rec = runner.one(kind, wl.warm_params(kind, warm_rng))
            print(f"# warm-up {kind}: {rec['s']:.3f}s {rec['error'] or ''}", file=sys.stderr)
    out = {"warm_s": time.perf_counter() - t0, "setup_s": common.process_age_s()}
    ops = schedule(wl, np.random.default_rng([args.seed, 1]))
    if not args.trace:
        out["timed"], out["traced"] = runner.loop(ops, args.seconds), []
        return out
    # every op twice, untraced and traced, alternating which goes first
    # so neither side gains from running second; the ratio of their
    # total latencies is the tracing overhead
    traced_runner = Runner(spark, wl, trace=True)
    out["timed"], out["traced"] = [], []
    start = time.perf_counter()
    for i, (kind, p) in enumerate(ops):
        if i >= len(wl.deck) and time.perf_counter() - start >= args.seconds:
            break
        pair = (runner, traced_runner) if i % 2 == 0 else (traced_runner, runner)
        for r in pair:
            (out["traced"] if r is traced_runner else out["timed"]).append(r.one(kind, p))
    out["overhead"] = sum(r["s"] for r in out["traced"]) / sum(r["s"] for r in out["timed"]) - 1
    return out


def run(args, work: str) -> dict:
    import numpy as np

    wl_mod = importlib.import_module(f"perfbench.{args.workload}")
    import pyspark

    from opencosmo_spark import get_spark

    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    wl_mod.generate(np.random.default_rng([args.seed, 0]), inputs)
    gen_s = time.perf_counter() - t0

    info = common.host_info()
    conf = common.spark_conf(work, info)
    wl = wl_mod.Workload(inputs, work)

    def session():
        return get_spark(
            f"perfbench-{args.workload}",
            master=f"local[{info['nproc']}]",
            shuffle_partitions=info["nproc"],
            extra_conf=conf,
        )

    t0 = time.perf_counter()
    spark = session()
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        t0 = time.perf_counter()
        wl.prepare(spark)
        prepare_s = time.perf_counter() - t0
        info.update(
            java=spark._jvm.java.lang.System.getProperty("java.version"),
            pyspark=pyspark.__version__,
            driver_memory=conf["spark.driver.memory"],
        )
        res = measure(args, wl, spark)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    recs = res["timed"] + res["traced"]
    t0 = time.perf_counter()
    verify(wl, recs, work)
    verify_s = time.perf_counter() - t0
    failed = [r for r in recs if r["error"] is not None]
    failed_frac = len(failed) / len(recs)
    for r in failed[:5]:
        print(f"# FAILED {r['kind']} {r['p']}: {r['error']}", file=sys.stderr)
    e2e, notes = end_to_end(wl, res["timed"], res["setup_s"])
    # where set-up time went (the rest is Python start-up and imports)
    notes.update(
        gen_s=round(gen_s, 3),
        session_s=round(session_s, 3),
        prepare_s=round(prepare_s, 3),
        warmup_s=round(res["warm_s"], 3),
        verify_s=round(verify_s, 3),
    )
    print(f"# host {json.dumps(info)}", file=sys.stderr)
    print(f"# run {json.dumps(notes)}", file=sys.stderr)
    # failed_op_frac is printed, not returned: at 0 it cannot carry the
    # relative bound of an end-to-end metric (see perfbench/README.md)
    summary = dict(e2e, failed_op_frac=(failed_frac, "ratio"))
    for name, (value, unit) in summary.items():
        print(f"# {args.workload:14s} {name:22s} {value:12.4f} {unit}", file=sys.stderr)
    if args.trace:
        traced = [r for r in res["traced"] if "layers" in r]
        layers = aggregate_layers([r["layers"] for r in traced], info["nproc"])
        layers["failed_op_frac"] = failed_frac
        layers["trace.overhead_frac"] = res["overhead"]
        for kind in dict.fromkeys(r["kind"] for r in traced):
            recs_k = [r["layers"] for r in traced if r["kind"] == kind]
            per = aggregate_layers(recs_k, info["nproc"])
            # executor time per second of the op: above 1, execution
            # dominates the op's latency across the cores
            per["op.s"] = sum(m["op.s"] for m in recs_k) / len(recs_k)
            per["exec.run_per_op_s"] = per["exec.executor_run_s"] / per["op.s"]
            print(f"# layers {kind} {json.dumps({k: round(v, 6) for k, v in per.items()})}", file=sys.stderr)
        metrics = {k: {"value": v, "unit": common.LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {
        "correct": not failed,
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # scratch stays in the checkout: Python workers and the JVM inherit
    # TMPDIR, and Spark's launcher JVM writes no perf-data file to /tmp
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result = run(args, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
