"""bench.py: the query lists resolve, and the traced lane records
perfbench's per-layer breakdown for a bench query."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

SF_DIR = "/root/testdata/sf0.001"


def test_bench_query_lists_resolve():
    """Every bench lane must name a real queries() entry with an
    oracle (except documented non-SQL ops) — catches drift when
    queries are added or renamed."""
    import __spark_entry__ as e

    qs = set(e.queries())
    oracles = set(e.oracle_sql())
    for name in bench.BENCH_QUERIES + bench.EXTRA_QUERIES:
        assert name in qs, f"bench names unknown query {name}"
        assert name in oracles, f"bench query {name} lacks an oracle"
    for lane in bench.WARM_LANE:
        assert lane in qs


def test_traced_lane_records_layers(spark):
    """One traced run of a cheap query through perfbench's Runner gives
    every per-op layer key perfbench reports, with the driver's py4j
    calls and the query's jobs counted."""
    import __spark_entry__ as e
    from perfbench import common
    from perfbench.run import RUN_LEVEL, Runner

    wl = bench.BenchQueries(e.queries(), SF_DIR)
    layers = bench._traced_layers(
        Runner(spark, wl, trace=True), "q01_scan_filter_project"
    )
    assert set(common.LAYER_UNITS) - set(RUN_LEVEL) <= set(layers)
    assert layers["api.py4j_calls"] > 0
    assert layers["exec.jobs"] >= 1
    assert layers["collect.rows"] > 0
