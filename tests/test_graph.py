"""Host-graph analytics: link extraction, host-edge construction,
and PageRank vs an exact numpy power-iteration twin (dangling nodes,
weighted edges, early convergence)."""

import numpy as np
import pytest

from opencosmo_spark.pipeline.graph import extract_links, host_edges, pagerank


def _numpy_pagerank(edges, n_nodes, damping=0.85, iters=100, weights=None):
    """Dense twin of the same damped + dangling-redistribution
    formulation, run a fixed number of iterations."""
    share = np.zeros((n_nodes, n_nodes))
    w = weights if weights is not None else [1.0] * len(edges)
    out = np.zeros(n_nodes)
    for (s, d), wt in zip(edges, w):
        out[s] += wt
    for (s, d), wt in zip(edges, w):
        share[s, d] += wt / out[s]
    dang = out == 0
    r = np.full(n_nodes, 1.0 / n_nodes)
    for _ in range(iters):
        r = (
            (1 - damping) / n_nodes
            + damping * (share.T @ r + r[dang].sum() / n_nodes)
        )
    return r


@pytest.fixture(scope="module")
def graph_df(spark):
    rng = np.random.default_rng(7)
    n = 40
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, n, size=(160, 2))
            if a != b and a % 7 != 3  # nodes ≡3 mod 7 are dangling
        }
    )
    weights = [float(w) for w in rng.integers(1, 5, size=len(edges))]
    df = spark.createDataFrame(
        [(f"h{a}", f"h{b}", w) for (a, b), w in zip(edges, weights)],
        ["src", "dst", "weight"],
    )
    return df, edges, weights, n


def test_pagerank_matches_numpy_unweighted(spark, graph_df):
    df, edges, weights, _ = graph_df
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    dense = _numpy_pagerank(
        [(idx[a], idx[b]) for a, b in edges], len(nodes), iters=60
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, max_iter=60, tol=0.0).collect()
    }
    assert len(got) == len(nodes)
    for v in nodes:
        assert got[f"h{v}"] == pytest.approx(dense[idx[v]], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_weighted_and_early_stop(spark, graph_df):
    df, edges, weights, _ = graph_df
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    dense = _numpy_pagerank(
        [(idx[a], idx[b]) for a, b in edges],
        len(nodes),
        iters=200,
        weights=weights,
    )
    # tol-based early stop must land within tol-scale distance of the
    # fixed point the dense twin converges to
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, weight="weight", max_iter=200, tol=1e-12).collect()
    }
    for v in nodes:
        assert got[f"h{v}"] == pytest.approx(dense[idx[v]], abs=1e-8)


def test_extract_links_and_host_edges(spark):
    html = (
        '<a href="https://other.org/page">x</a>'
        '<a href="/relative/path">y</a>'
        '<A HREF=\'HTTPS://Other.ORG/second\'>z</a>'
        '<a href="https://third.net/a">w</a>'
        '<a href="#frag">f</a>'
        '<a href="mailto:a@b.c">m</a>'
    )
    df = spark.createDataFrame(
        [
            ("https://example.com/p1", html),
            ("https://example.com/p2", '<a href="https://other.org/x">l</a>'),
            ("https://example.com/self", '<a href="https://example.com/me">s</a>'),
        ],
        ["url", "text"],
    )
    links = df.select(extract_links("text").alias("l")).first()["l"]
    assert "https://other.org/page" in links
    assert "/relative/path" in links  # raw targets; host filter is later
    assert not any(l.startswith("#") for l in links)

    edges = {
        (r["src"], r["dst"]): r["weight"] for r in host_edges(df).collect()
    }
    # two pages link example.com -> other.org; the duplicate-host
    # anchors on p1 collapse; relative + mailto + self-edge drop
    assert edges[("example.com", "other.org")] == 2
    assert edges[("example.com", "third.net")] == 1
    assert len(edges) == 2


def test_pagerank_round_is_one_checkpoint_job(spark, graph_df, count_jobs):
    """Each round's delta and next dangling mass are observed on the
    round's checkpoint job: no separate stats join, aggregate and
    first() per round (which made 9 jobs a round)."""
    df = graph_df[0]
    _, ten = count_jobs(lambda: pagerank(df, max_iter=10, tol=0.0))
    _, twenty = count_jobs(lambda: pagerank(df, max_iter=20, tol=0.0))
    assert (twenty - ten) / 10 <= 5


def test_pagerank_releases_its_caches_on_every_path(
    spark, graph_df, cached_rdd_ids, monkeypatch
):
    from opencosmo_spark.pipeline import graph

    before = cached_rdd_ids()
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).collect() == []
    assert cached_rdd_ids() - before == set()

    real, calls = graph.checkpoint_round, []

    def fail_second_round(df, *metrics):
        # call 1 builds the node table, call 2 is round one
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("round failed")
        return real(df, *metrics)

    monkeypatch.setattr(graph, "checkpoint_round", fail_second_round)
    with pytest.raises(RuntimeError, match="round failed"):
        pagerank(graph_df[0], max_iter=5, tol=0.0)
    assert cached_rdd_ids() - before == set()


def test_pagerank_holds_one_round_checkpoint(spark, graph_df, checkpoint_rdd_ids):
    """Each round releases the previous round's checkpoint (the node
    table in round one): ten rounds leave one stored, and the ranks
    still equal the dense twin's."""
    df, edges, _, _ = graph_df
    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    dense = _numpy_pagerank(
        [(idx[a], idx[b]) for a, b in edges], len(nodes), iters=10
    )
    before = checkpoint_rdd_ids()
    ranks = pagerank(df, max_iter=10, tol=0.0)
    assert len(checkpoint_rdd_ids() - before) <= 1
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    for v in nodes:
        assert got[f"h{v}"] == pytest.approx(dense[idx[v]], abs=1e-12)
