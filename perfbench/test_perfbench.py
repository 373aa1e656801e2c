"""Self-tests of the benchmark's own machinery (no Spark session):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import common, corpus_dedup, gen, halo_catalog, headline_sql, run

GENERATORS = {
    "halo_catalog": lambda rng: dict(zip(("halos", "particles"), gen.halo_tables(rng))),
    "corpus_dedup": lambda rng: {"documents": gen.corpus_table(rng)},
    "headline_sql": lambda rng: gen.star_tables(rng, 0.002),
}


@pytest.mark.parametrize("workload", sorted(GENERATORS))
def test_inputs_follow_the_seed(workload):
    make = GENERATORS[workload]
    first = gen.checksum(make(np.random.default_rng([7, 0])))
    again = gen.checksum(make(np.random.default_rng([7, 0])))
    other = gen.checksum(make(np.random.default_rng([8, 0])))
    assert first == again
    assert first != other


@pytest.mark.parametrize(
    "n, value, pct",
    [
        (100, 90.0, 90),  # rank 90 leaves exactly ten beyond it
        (30, 20.0, 66),  # p66 -> rank 20, ten beyond; p67 -> rank 21, nine
        (1000, 990.0, 99),
        (20, 10.0, 50),  # p50 -> rank 10, exactly ten beyond
        (19, 10.0, 50),  # nothing from the median up has ten beyond: the median
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, value, pct):
    values = [float(v) for v in np.random.default_rng(0).permutation(np.arange(1, n + 1))]
    assert common.tail_percentile(values) == (value, pct)


def test_weighted_percentile_gives_each_kind_its_deck_share():
    # deck [a, b]: three a ops timed at 1 s, one b op at 3 s; weighted,
    # the b op is half the mass, so the median is the cheap op and p51
    # the costly one
    kinds, lat = ["a", "a", "a", "b"], [1.0, 1.0, 1.0, 3.0]
    w = common.deck_weights(kinds, ["a", "b"])
    assert w == pytest.approx([1 / 6, 1 / 6, 1 / 6, 1 / 2])
    assert common.nearest_rank(lat, 50, w) == (1.0, 3)
    assert common.nearest_rank(lat, 51, w) == (3.0, 4)


class _Fixed(common.WorkloadBase):
    name = "fixed"
    deck = ["r", "w"]
    writes = {"w"}

    def expected(self, con, kind, p):
        return pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})


def _rec(kind, got, s=1.0):
    return {"kind": kind, "p": {}, "s": s, "cycle": s, "got": got, "error": None}


def test_perturbed_result_counts_as_failed_op(tmp_path):
    wl = _Fixed(str(tmp_path), str(tmp_path))
    right = pd.DataFrame({"v": [2.5, 0.5, 1.5], "k": [3, 1, 2]})  # any row order
    perturbed = right.copy()
    perturbed.loc[1, "v"] += 1e-6
    recs = [_rec("r", right, 1.0), _rec("r", perturbed, 2.0), _rec("w", right, 3.0)]
    run.verify(wl, recs, str(tmp_path))
    assert [r["error"] is None for r in recs] == [True, False, True]
    assert recs[1]["error"].startswith("wrong output")
    metrics, notes = run.end_to_end(wl, recs, setup_s=1.0)
    assert notes["ops"] == 2
    # one r op (1 s) and one w op (3 s) at the deck's 1:1 mix
    assert metrics["ops_per_s"][0] == pytest.approx(2 / 4.0)
    assert metrics["write_latency_p50_s"][0] == 3.0


def test_ops_per_s_does_not_depend_on_where_the_run_stopped(tmp_path):
    wl = _Fixed(str(tmp_path), str(tmp_path))
    ops = lambda n_r: [_rec("r", None, 1.0)] * n_r + [_rec("w", None, 3.0)]  # noqa: E731
    rates = [run.end_to_end(wl, ops(n), setup_s=1.0)[0]["ops_per_s"][0] for n in (1, 3)]
    assert rates == pytest.approx([0.5, 0.5])


def test_float_tolerance_is_relative():
    a = pd.DataFrame({"x": [1e6, 2.0]})
    assert common.frames_match(a, a * (1 + 1e-12)) is None
    assert common.frames_match(a, a * (1 + 1e-6)) is not None


def test_every_deck_writes():
    for mod in (halo_catalog, corpus_dedup, headline_sql):
        assert any(k in mod.WRITES for k in mod.DECK), mod.NAME
