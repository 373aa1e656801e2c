"""LLM-pipeline operator tests: dedup finds planted duplicates,
similarity matches numpy oracles, text features behave.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    base = docs.limit(50).toPandas()
    dup = base.copy()
    dup["doc_id"] = dup["doc_id"] + 100000  # exact dups
    near = base.copy()
    near["doc_id"] = near["doc_id"] + 200000
    near["text"] = near["text"] + " extra tail token"  # near dups
    return spark.createDataFrame(pd.concat([base, dup, near]))


def test_exact_dedup(docs_with_dups):
    from opencosmo_spark.pipeline import exact_dedup

    out = exact_dedup(docs_with_dups).toPandas()
    dup_groups = out[out.n >= 2]
    assert len(dup_groups) == 50  # each original + its exact copy
    # keep-first: min doc_id survives
    assert (dup_groups.keep_doc_id < 100000).all()


def test_minhash_finds_near_dups(docs_with_dups):
    from opencosmo_spark.pipeline import minhash_lsh_candidates

    pairs = minhash_lsh_candidates(
        docs_with_dups, jaccard_threshold=0.5
    ).toPandas()
    # exact duplicates must pair with jaccard 1.0
    exact = pairs[(pairs.a < 100000) & (pairs.b == pairs.a + 100000)]
    assert len(exact) == 50
    assert (exact.jaccard == 1.0).all()
    # near-duplicates (small tail added) found with high jaccard
    near = pairs[(pairs.a < 100000) & (pairs.b == pairs.a + 200000)]
    assert len(near) >= 45
    assert (near.jaccard > 0.7).all()


def test_simhash_near_dups_close(docs_with_dups):
    from opencosmo_spark.pipeline import simhash

    out = simhash(docs_with_dups).toPandas().set_index("doc_id")

    def hamming(a, b):
        return bin((int(a) & 0xFFFFFFFFFFFFFFFF) ^ (int(b) & 0xFFFFFFFFFFFFFFFF)).count("1")

    base_ids = [i for i in out.index if i < 100000]
    d_near = [
        hamming(out.simhash[i], out.simhash[i + 200000])
        for i in base_ids
        if i + 200000 in out.index
    ]
    rng = np.random.default_rng(0)
    others = rng.choice(base_ids, 20)
    d_rand = [
        hamming(out.simhash[a], out.simhash[b])
        for a, b in zip(others[:10], others[10:])
        if a != b
    ]
    assert np.mean(d_near) < np.mean(d_rand) / 2
    # exact dups: identical simhash
    assert all(
        out.simhash[i] == out.simhash[i + 100000]
        for i in base_ids
        if i + 100000 in out.index
    )


def test_cosine_topk_matches_numpy(spark):
    from opencosmo_spark.pipeline import brute_force_cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pdf = emb.toPandas()
    mat = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    q = mat[0]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf.vec_id.to_numpy(), -np.round(sims, 6)))[:5]
    expected = set(pdf.vec_id.to_numpy()[order])
    out = brute_force_cosine_topk(emb, list(q), k=5).toPandas()
    assert set(out.vec_id) == expected


def test_lsh_ann_contains_query(spark):
    from opencosmo_spark.pipeline import lsh_bucket_ann

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pdf = emb.limit(1).toPandas()
    q = list(np.asarray(pdf.embedding[0], dtype=float))
    out = lsh_bucket_ann(emb, q, k=5).toPandas()
    # the query vector itself must be its own nearest neighbor
    assert out.vec_id.iloc[0] == pdf.vec_id[0]
    assert out.cos_sim.iloc[0] == pytest.approx(1.0)


def test_ngram_jaccard(docs_with_dups):
    from opencosmo_spark.pipeline import ngram_jaccard_pairs

    small = docs_with_dups.filter(F.col("doc_id") % 5 == 0)
    pairs = ngram_jaccard_pairs(small, threshold=0.9).toPandas()
    exact = pairs[(pairs.a < 100000) & (pairs.b == pairs.a + 100000)]
    assert (exact.jaccard == 1.0).all() and len(exact) > 0


def test_text_features(docs):
    from opencosmo_spark.pipeline.text import add_text_features

    out = add_text_features(docs).limit(100).toPandas()
    assert (out.n_tokens > 0).all()
    assert out.quality.between(0, 1).all()
    assert out.lang_id.isin(["en", "de", "fr", "es", "unknown"]).all()
    assert out.fingerprint.str.len().eq(32).all()


def test_langid_real_sentences(spark):
    # the synthetic corpus uses one shared vocabulary for every lang
    # value, so accuracy is measured on real sentences instead
    from opencosmo_spark.pipeline.text import language_id

    samples = [
        ("en", "the cat sat on a mat and the dog barked at the end of it"),
        ("de", "der hund und die katze sind in das haus gegangen und der tag ist gut"),
        ("fr", "le chien et la maison sont dans les champs et la nuit est belle"),
        ("es", "el perro y la casa de madera que es grande y la noche es buena"),
    ]
    df = spark.createDataFrame(samples, "lang string, text string")
    out = df.select("lang", language_id(F.col("text")).alias("guess")).toPandas()
    assert (out.lang == out.guess).all(), out.to_dict("records")


def test_lsh_ann_precomputed_buckets_equivalent(spark, tmp_path):
    """Materialized ingest-time buckets (the 100 TB path) must give the
    same probe result as on-the-fly buckets, and survive a clustered
    parquet roundtrip with pruning-friendly layout."""
    from pyspark.sql import functions as F

    from opencosmo_spark.pipeline.similarity import (
        add_lsh_buckets,
        lsh_bucket_ann,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    baseline = lsh_bucket_ann(emb, qv).toPandas()

    path = str(tmp_path / "emb_bucketed")
    bucketed = add_lsh_buckets(emb, dim=len(qv))
    bucketed.repartitionByRange("__bucket").sortWithinPartitions(
        "__bucket"
    ).write.parquet(path)
    re = spark.read.parquet(path)
    out = lsh_bucket_ann(re, qv).toPandas()

    assert out.vec_id.tolist() == baseline.vec_id.tolist()
    assert out.cos_sim.tolist() == baseline.cos_sim.tolist()
    # the probe predicate is pushable on the stored bucket column
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = (
        lsh_bucket_ann(re, qv)._jdf.queryExecution().explainString(mode)
    )
    assert "PushedFilters: [In(__bucket" in plan


def test_ivf_ann_full_probe_equals_brute_force(spark):
    """With nprobe == nlist (every cell probed) IVF must return exactly
    the brute-force top-k."""
    from opencosmo_spark.pipeline import brute_force_cosine_topk
    from opencosmo_spark.pipeline.similarity import ivf_ann

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = list(
        np.asarray(
            emb.filter(F.col("vec_id") == 3).toPandas().embedding[0],
            dtype=float,
        )
    )
    full = ivf_ann(emb, q, k=8, nlist=8, nprobe=8).toPandas()
    brute = brute_force_cosine_topk(emb, q, k=8).toPandas()
    assert list(full.vec_id) == list(brute.vec_id)
    assert list(full.cos_sim) == list(brute.cos_sim)


def test_ivf_ann_probe_prunes_and_keeps_query(spark):
    from opencosmo_spark.pipeline.similarity import assign_ivf_cells, ivf_ann

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pdf = emb.filter(F.col("vec_id") == 0).toPandas()
    q = list(np.asarray(pdf.embedding[0], dtype=float))
    out = ivf_ann(emb, q, k=5, nlist=8, nprobe=2).toPandas()
    # query vector is its own nearest neighbor and sits in a probed cell
    assert out.vec_id.iloc[0] == 0
    assert out.cos_sim.iloc[0] == pytest.approx(1.0)
    # materialized cells cover every vector and stay within [0, nlist)
    cents = [
        (int(r[0]), list(r[1]))
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    ]
    cells = assign_ivf_cells(emb, cents).select("__ivf_cell").toPandas()
    assert cells.__ivf_cell.between(0, 7).all()
    # each centroid is assigned to its own cell
    own = (
        assign_ivf_cells(emb, cents)
        .filter(F.col("vec_id") < 8)
        .select("vec_id", "__ivf_cell")
        .toPandas()
    )
    assert (own.vec_id == own.__ivf_cell).all()


def test_ngram_jaccard_capped_universe_keeps_exact_twins(docs_with_dups):
    """max_doc_freq must use capped-universe semantics: an exact twin
    pair scores 1.0 on any shingle universe, so it survives any cap
    that leaves the docs at least one shingle."""
    from opencosmo_spark.pipeline import ngram_jaccard_pairs

    small = docs_with_dups.filter(F.col("doc_id") % 5 == 0)
    capped = ngram_jaccard_pairs(small, threshold=0.9, max_doc_freq=64).toPandas()
    exact = capped[(capped.a < 100000) & (capped.b == capped.a + 100000)]
    assert (exact.jaccard == 1.0).all() and len(exact) > 0


def test_minhash_md5_mode_equivalent_semantics(docs_with_dups):
    """hasher='md5' (the oracle-checkable primitive) must find the same
    exact-duplicate pairs with the same verified Jaccard — the banding
    randomness differs, but exact dups collide in every band under any
    hasher, and the exact-verify stage is hash-free set algebra."""
    from opencosmo_spark.pipeline import minhash_lsh_candidates

    pairs = minhash_lsh_candidates(
        docs_with_dups, jaccard_threshold=0.5, hasher="md5"
    ).toPandas()
    exact = pairs[(pairs.a < 100000) & (pairs.b == pairs.a + 100000)]
    assert len(exact) == 50
    assert (exact.jaccard == 1.0).all()


def test_simhash_md5_mode(docs_with_dups):
    """md5 lanes are 60-bit; near-dup hamming stays far below random."""
    from opencosmo_spark.pipeline import simhash

    out = simhash(docs_with_dups, bits=60, hasher="md5").toPandas().set_index("doc_id")
    assert (out.simhash >= 0).all()

    def hamming(a, b):
        return bin(int(a) ^ int(b)).count("1")

    base_ids = [i for i in out.index if i < 100000]
    d_near = [
        hamming(out.simhash[i], out.simhash[i + 200000])
        for i in base_ids
        if i + 200000 in out.index
    ]
    assert np.mean(d_near) < 10


def test_connected_components_chain_and_isolated(spark):
    """Min-label propagation must cross multi-hop chains (diameter >
    1): 1-2, 2-3, 3-4 collapse to cluster 1; 10-11 to 10; 99 isolated
    keeps itself. Oracle = union-find in python."""
    from opencosmo_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3, 10], "b": [2, 3, 4, 11]})
    )
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11, 99]})
    )
    out = (
        connected_components(edges, nodes, id_col="doc_id")
        .toPandas()
        .set_index("doc_id")["cluster_id"]
        .to_dict()
    )
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_string_ids(spark):
    """String doc ids (the JSONL convention) must work end-to-end:
    cluster_id = lexicographic minimum, convergence via the label-hash
    checksum instead of the numeric label sum."""
    from opencosmo_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"a": ["d1", "d2", "d3", "x1"],
                      "b": ["d2", "d3", "d4", "x2"]})
    )
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["d1", "d2", "d3", "d4", "x1", "x2", "z9"]})
    )
    out = (
        connected_components(edges, nodes, id_col="doc_id")
        .toPandas()
        .set_index("doc_id")["cluster_id"]
        .to_dict()
    )
    assert out == {
        "d1": "d1", "d2": "d1", "d3": "d1", "d4": "d1",
        "x1": "x1", "x2": "x1", "z9": "z9",
    }


def test_star_components_high_diameter_chain(spark):
    """Large-star/small-star must label a diameter-400 path graph in
    O(log n) rounds — far under a round budget the min-label loop
    would exhaust (it needs rounds = diameter). Oracle = union-find;
    also differential vs minlabel on a mixed random graph."""
    import warnings

    from opencosmo_spark.pipeline.dedup import connected_components

    # path 0-1-2-...-400 plus two isolated nodes; shuffle edge order so
    # convergence can't ride on a lucky input ordering
    rng = np.random.default_rng(7)
    chain = [(i, i + 1) for i in range(400)]
    rng.shuffle(chain)
    edges = spark.createDataFrame(
        pd.DataFrame({"a": [a for a, _ in chain], "b": [b for _, b in chain]})
    )
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(401)) + [900, 901]})
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # must CONVERGE
        out = (
            connected_components(
                edges, nodes, id_col="doc_id", max_iterations=15,
                algorithm="star",
            )
            .toPandas()
            .set_index("doc_id")["cluster_id"]
            .to_dict()
        )
    want = {i: 0 for i in range(401)}
    want.update({900: 900, 901: 901})
    assert out == want


def test_star_vs_minlabel_differential(spark):
    """Both algorithms must produce identical component-min labels on
    a random clumpy graph (the dedup-shaped regime where minlabel is
    the proven default)."""
    from opencosmo_spark.pipeline.dedup import connected_components

    rng = np.random.default_rng(11)
    n = 300
    ea, eb = [], []
    for _ in range(350):
        i, j = rng.integers(0, n, size=2)
        if i != j:
            ea.append(int(i))
            eb.append(int(j))
    edges = spark.createDataFrame(pd.DataFrame({"a": ea, "b": eb}))
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(n))}))
    kw = dict(id_col="doc_id", max_iterations=50)
    a = connected_components(edges, nodes, algorithm="minlabel", **kw)
    b = connected_components(edges, nodes, algorithm="star", **kw)
    pa = a.toPandas().set_index("doc_id")["cluster_id"].to_dict()
    pb = b.toPandas().set_index("doc_id")["cluster_id"].to_dict()
    assert pa == pb


@pytest.mark.parametrize("algorithm", ["minlabel", "star"])
def test_connected_components_warns_when_rounds_run_out(spark, algorithm):
    """A 10-node chain needs more than two rounds under either
    algorithm; a partial labeling must not pass silently."""
    from opencosmo_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"a": list(range(9)), "b": list(range(1, 10))})
    )
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(10))}))
    with pytest.warns(RuntimeWarning, match="max_iterations=2"):
        connected_components(
            edges, nodes, id_col="doc_id", max_iterations=2,
            algorithm=algorithm,
        )


@pytest.mark.parametrize("algorithm", ["minlabel", "star"])
def test_connected_components_hold_one_round_checkpoint(
    spark, algorithm, checkpoint_rdd_ids
):
    """Each round releases the previous round's checkpoint: the rounds
    a 12-node chain takes leave one stored, and the labels are whole."""
    from opencosmo_spark.pipeline.dedup import connected_components

    edges = spark.createDataFrame(
        pd.DataFrame({"a": list(range(11)), "b": list(range(1, 12))})
    )
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(12))}))
    before = checkpoint_rdd_ids()
    labels = connected_components(
        edges, nodes, id_col="doc_id", max_iterations=30, algorithm=algorithm
    )
    assert len(checkpoint_rdd_ids() - before) <= 1
    assert {r["doc_id"]: r["cluster_id"] for r in labels.collect()} == {
        i: 0 for i in range(12)
    }


def test_minlabel_releases_edge_cache_when_a_round_fails(
    spark, cached_rdd_ids, monkeypatch
):
    from opencosmo_spark.pipeline import dedup

    edges = spark.createDataFrame(pd.DataFrame({"a": [1, 2], "b": [2, 3]}))
    nodes = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3]}))
    real, calls = dedup.checkpoint_round, []

    def fail_second_round(df, *metrics):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("round failed")
        return real(df, *metrics)

    before = cached_rdd_ids()
    monkeypatch.setattr(dedup, "checkpoint_round", fail_second_round)
    with pytest.raises(RuntimeError, match="round failed"):
        dedup.connected_components(edges, nodes, id_col="doc_id")
    assert cached_rdd_ids() - before == set()


def test_dedup_clusters_group_planted_duplicates(docs_with_dups):
    """End-to-end: LSH pairs over the planted corpus -> components.
    Every (base, exact-dup, near-dup) triple must land in ONE cluster
    labeled by the base id."""
    from opencosmo_spark.pipeline.dedup import (
        connected_components,
        minhash_lsh_candidates,
    )

    # 8 bands x 2 rows: band-collision prob for j~0.9 near-dups is
    # 1-(1-j^2)^8 ~ 1-2e-6 — effectively deterministic over 50 docs
    # (the 4x4 default has an expected ~1 miss at this corpus size)
    pairs = minhash_lsh_candidates(
        docs_with_dups, bands=8, jaccard_threshold=0.5
    )
    out = (
        connected_components(
            pairs, docs_with_dups.select("doc_id"), id_col="doc_id"
        )
        .toPandas()
        .set_index("doc_id")["cluster_id"]
        .to_dict()
    )
    base_ids = [i for i in out if i < 100000]
    for i in base_ids:
        assert out[i + 100000] == out[i]  # exact dup joins base cluster
        assert out[i + 200000] == out[i]  # near dup too
    # distinct base docs must NOT merge
    assert len({out[i] for i in base_ids}) == len(base_ids)


def test_repetition_stats_oracle(spark):
    """Hand-computed fractions on a constructed doc."""
    from opencosmo_spark.pipeline.text import repetition_stats

    # words: [a a b c], bigrams: [a a, a b, b c]
    df = spark.createDataFrame(pd.DataFrame({"text": ["a a b c", "x y"]}))
    stats = repetition_stats("text")
    row = (
        df.select(*[c.alias(n) for n, c in stats.items()])
        .toPandas()
        .iloc[0]
    )
    assert row.n_words == 4
    assert row.dup_word_frac == pytest.approx(1 - 3 / 4)
    assert row.top_word_frac == pytest.approx(2 / 4)
    assert row.dup_bigram_frac == pytest.approx(0.0)
    row2 = (
        df.select(*[c.alias(n) for n, c in stats.items()])
        .toPandas()
        .iloc[1]
    )
    assert row2.n_words == 2 and row2.dup_word_frac == 0.0


def test_train_ivf_codebook_properties(spark):
    """Spherical k-means invariants: deterministic, unit-norm
    centroids, and non-increasing inertia across iterations."""
    from opencosmo_spark.pipeline.similarity import (
        assign_ivf_cells,
        train_ivf_codebook,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    cb1 = train_ivf_codebook(emb, nlist=4, iters=3)
    cb2 = train_ivf_codebook(emb, nlist=4, iters=3)
    assert cb1 == cb2  # deterministic end to end
    for _, c in cb1:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9  # unit norm

    def inertia(codebook):
        a = assign_ivf_cells(emb, codebook, cell_col="__c")
        sims = {cid: np.array(vec) for cid, vec in codebook}
        pdf = a.select("embedding", "__c").toPandas()
        tot = 0.0
        for _, r in pdf.iterrows():
            v = np.array(r.embedding, dtype=float)
            c = sims[int(r.__c)]
            tot += 1.0 - float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
        return tot

    prev = None
    for it in (0, 1, 3):
        cur = inertia(train_ivf_codebook(emb, nlist=4, iters=it))
        if prev is not None:
            assert cur <= prev + 1e-6  # Lloyd's never increases inertia
        prev = cur


def test_ivf_lloyd_step_consistent_with_trainer(spark):
    """The single-round Lloyd step must emit exactly nlist x dim rows,
    per-cell counts summing to the corpus size, and means consistent
    with an independent pandas recomputation of the same assignment."""
    from opencosmo_spark.pipeline.similarity import ivf_lloyd_step

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_corpus = emb.count()
    dim = len(emb.first()["embedding"])
    out = ivf_lloyd_step(emb, nlist=4, hasher="md5").toPandas()
    assert len(out) == 4 * dim
    # each position's counts partition the corpus
    assert (out.groupby("pos").n.sum() == n_corpus).all()
    # deterministic across runs and across hashers' machinery
    again = ivf_lloyd_step(emb, nlist=4, hasher="md5").toPandas()
    a = out.sort_values(["cell", "pos"]).reset_index(drop=True)
    b = again.sort_values(["cell", "pos"]).reset_index(drop=True)
    assert a.equals(b)
    # independent mean recomputation for one (cell, pos)
    pdf = emb.toPandas()
    import hashlib

    def lane(vid):
        return int(hashlib.md5(str(vid).encode()).hexdigest()[:15], 16)

    seeds = sorted(pdf.vec_id, key=lambda v: (lane(v), v))[:4]
    sv = {i: np.array(pdf.set_index("vec_id").loc[s, "embedding"], dtype=float)
          for i, s in enumerate(seeds)}

    def cell_of(v):
        v = np.array(v, dtype=float)
        sims = [round(float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c))), 6)
                for c in [sv[i] for i in range(4)]]
        return int(np.argmax(sims))

    cells = pdf.embedding.map(cell_of)
    members = np.stack(pdf.embedding[cells == 0].to_numpy()).astype(float)
    vi = np.round(np.round(members[:, 0], 6) * 1e6)
    expect = round(float(vi.sum() / len(vi) / 1e6), 6)
    got = out[(out.cell == 0) & (out.pos == 0)]
    assert int(got.n.iloc[0]) == len(members)
    assert abs(float(got.mean_v.iloc[0]) - expect) < 1e-9


def test_ivf_ann_trained_codebook_full_probe_equals_brute(spark):
    """With nprobe = nlist the trained quantizer must return exactly
    the brute-force top-k — training changes routing, never scoring."""
    from opencosmo_spark.pipeline.similarity import (
        brute_force_cosine_topk,
        ivf_ann,
        train_ivf_codebook,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    cb = train_ivf_codebook(emb, nlist=4, iters=2)
    full = ivf_ann(emb, qv, k=10, nlist=4, nprobe=4, codebook=cb).toPandas()
    brute = brute_force_cosine_topk(emb, qv, k=10).toPandas()
    assert full.vec_id.tolist() == brute.vec_id.tolist()
    assert full.cos_sim.tolist() == brute.cos_sim.tolist()


def test_chunk_documents_roundtrip(docs):
    """Chunking must partition the token stream exactly: per-doc
    concatenation of chunk_texts reproduces the normalized document,
    every chunk respects the budget, counts are consistent."""
    from opencosmo_spark.pipeline.text import chunk_documents

    out = chunk_documents(docs.limit(50), max_tokens=64).toPandas()
    orig = docs.limit(50).toPandas().set_index("doc_id")["text"]
    assert (out.n_tokens <= 64).all() and (out.n_tokens > 0).all()
    assert (
        out.chunk_text.str.split().str.len() == out.n_tokens
    ).all()
    rebuilt = (
        out.sort_values(["doc_id", "chunk_idx"])
        .groupby("doc_id")["chunk_text"]
        .apply(" ".join)
    )
    import re

    for did, text in orig.items():
        assert rebuilt[did] == re.sub(r"\s+", " ", text.strip())


def test_pack_chunks_budget_and_order(docs):
    """Cumulative packing: pack ids contiguous from 0, chunks stay in
    (doc, idx) order within packs, and every pack's token total stays
    within budget + one chunk overhang (the streaming-pack bound)."""
    from opencosmo_spark.pipeline.text import chunk_documents, pack_chunks

    packed = pack_chunks(
        chunk_documents(docs.limit(80), max_tokens=64), budget=256
    ).toPandas()
    sums = packed.groupby("pack_id")["n_tokens"].sum()
    assert sums.index.min() == 0
    assert set(sums.index) == set(range(int(sums.index.max()) + 1))
    assert (sums <= 256 + 63).all()
    # every pack except the last is filled past budget - 64
    assert (sums[:-1] > 256 - 64).all()
    # (doc_id, chunk_idx) IS the packing order: pack_id non-decreasing
    s = packed.sort_values(["doc_id", "chunk_idx"])
    assert (s.pack_id.diff().dropna() >= 0).all()


def test_line_dedup_boilerplate_scrub(spark):
    """Falcon-style corpus line dedup: lines shared by >= min_dup docs
    vanish everywhere, unique lines keep their order, all-boilerplate
    docs survive empty, and a line repeated only WITHIN one doc stays
    (the count is distinct-docs, not occurrences)."""
    import pandas as pd

    from opencosmo_spark.pipeline.dedup import line_dedup

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "SUBSCRIBE NOW\nalpha beta\nCOOKIE NOTICE\ngamma",
                "SUBSCRIBE NOW\ndelta\nCOOKIE NOTICE",
                "SUBSCRIBE NOW\nCOOKIE NOTICE",
                "echo\necho\nfoxtrot",
            ],
        }
    )
    out = (
        line_dedup(spark.createDataFrame(docs), min_dup=2)
        .toPandas()
        .set_index("doc_id")
        .text
    )
    assert out[1] == "alpha beta\ngamma"
    assert out[2] == "delta"
    assert out[3] == ""          # fully boilerplate, row preserved
    assert out[4] == "echo\necho\nfoxtrot"  # intra-doc repeat kept
    # threshold respected: min_dup=4 removes nothing
    out4 = (
        line_dedup(spark.createDataFrame(docs), min_dup=4)
        .toPandas()
        .set_index("doc_id")
        .text
    )
    assert (out4 == docs.set_index("doc_id").text).all()


def test_bucket_partitioned_probe_reads_probed_files_only(spark, tmp_path):
    """The 100 TB claim, MEASURED: store the corpus partitioned by LSH
    bucket and an ANN probe's scan must touch only the probed buckets'
    files — asserted from the executed scan's numFiles metric, not
    from the plan text."""
    import os

    from pyspark.sql import functions as F

    from opencosmo_spark.pipeline.similarity import (
        add_lsh_buckets,
        lsh_bucket_ann,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    baseline = lsh_bucket_ann(emb, qv).toPandas()

    path = str(tmp_path / "emb_bucket_part")
    add_lsh_buckets(emb, dim=len(qv)).write.partitionBy("__bucket").parquet(path)
    total_files = sum(
        1
        for _, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )

    re = spark.read.parquet(path)
    probe_df = lsh_bucket_ann(re, qv)
    out = probe_df.toPandas()
    assert out.vec_id.tolist() == baseline.vec_id.tolist()
    assert out.cos_sim.tolist() == baseline.cos_sim.tolist()

    # walk the executed plan's leaves for the parquet scan's metrics
    qe = probe_df._jdf.queryExecution()
    leaves = qe.executedPlan().collectLeaves()
    num_files = None
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numFiles"):
            num_files = m.apply("numFiles").value()
            break
    assert num_files is not None, "no file scan in executed plan"
    # Hamming<=1 probing touches at most planes+1 = 9 of 256 buckets
    assert 0 < num_files <= 9, (num_files, total_files)
    assert num_files < total_files / 5


def test_ngram_jaccard_bruteforce_requires_opt_in(docs_with_dups):
    """candidates=None with threshold<=0 is an all-pairs crossJoin;
    it must demand explicit opt-in (and still work when granted)."""
    from opencosmo_spark.pipeline.dedup import ngram_jaccard_pairs

    small = docs_with_dups.limit(6)
    with pytest.raises(ValueError, match="allow_bruteforce"):
        ngram_jaccard_pairs(small, threshold=0.0)
    out = ngram_jaccard_pairs(
        small, threshold=0.0, allow_bruteforce=True
    )
    assert out.count() >= 0  # brute path still functions when opted in


def test_release_cached_unpersists_signature_frames(docs_with_dups):
    """The LSH builders persist the signature frame for their internal
    join fan-out; release_cached must free it after materialization so
    ingest loops don't accumulate MEMORY_AND_DISK frames."""
    from opencosmo_spark.pipeline.dedup import (
        minhash_lsh_candidates,
        release_cached,
    )

    res = minhash_lsh_candidates(docs_with_dups, bands=8, jaccard_threshold=0.5)
    res.count()
    cached = list(res._oc_cached)
    assert cached, "builder should have registered its persisted frames"
    assert all(c.storageLevel.useMemory or c.storageLevel.useDisk for c in cached)
    release_cached(res)
    assert not any(
        c.storageLevel.useMemory or c.storageLevel.useDisk for c in cached
    )
    assert res._oc_cached == []


def test_kmeans_parallel_init_quality(spark):
    """k-means|| seeds on a 4-blob corpus: one seed lands in each
    blob, and the resulting codebook's inertia is no worse than the
    hash-seeded codebook trained with the same Lloyd budget."""
    from opencosmo_spark.pipeline.similarity import (
        _cos_py,
        kmeans_parallel_init,
        train_ivf_codebook,
    )

    rng = np.random.default_rng(17)
    dirs = np.array(
        [[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1]], float
    )
    pts = np.vstack(
        [d + rng.normal(0, 0.05, size=(40, 4)) for d in dirs]
    )
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(pts)), "embedding": [list(map(float, p)) for p in pts]}
    )
    df = spark.createDataFrame(pdf)

    seeds = kmeans_parallel_init(df, nlist=4, rounds=3)
    assert len(seeds) == 4
    # each blob direction captured by exactly one seed
    owners = {int(np.argmax([_cos_py(s, d) for d in dirs])) for s in seeds}
    assert owners == {0, 1, 2, 3}

    def inertia(cb):
        cents = [c for _, c in cb]
        return sum(
            1.0 - max(_cos_py(p, c) for c in cents) for p in pts
        )

    km = train_ivf_codebook(df, nlist=4, iters=2, init="kmeans||")
    hh = train_ivf_codebook(df, nlist=4, iters=2, init="hash")
    assert inertia(km) <= inertia(hh) * 1.001

    with pytest.raises(ValueError, match="init must be"):
        train_ivf_codebook(df, nlist=4, init="bogus")


def test_kmeans_parallel_init_deterministic(spark):
    """The md5-lane draws make the init reproducible run-over-run and
    across partitionings (wide margins on this corpus: the float cost
    threshold is nowhere near any lane value)."""
    from opencosmo_spark.pipeline.similarity import kmeans_parallel_init

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = kmeans_parallel_init(emb, nlist=4, rounds=2)
    b = kmeans_parallel_init(emb.repartition(7), nlist=4, rounds=2)
    assert a == b


def test_importance_sample_budget_and_proportionality(spark):
    """Kept fraction hits the target within sampling noise; acceptance
    is proportional to weight below the clip; zero/NULL weights never
    survive; same inputs -> identical survivor set."""
    from opencosmo_spark.pipeline.sample import importance_sample

    n = 20000
    rng = np.random.default_rng(29)
    w = rng.choice([0.0, 1.0, 2.0, 4.0], size=n, p=[0.1, 0.5, 0.3, 0.1])
    pdf = pd.DataFrame({"doc_id": np.arange(n), "w": w})
    pdf.loc[0, "w"] = None  # NULL weight
    df = spark.createDataFrame(pdf)

    out = importance_sample(df, "w", target_frac=0.3)
    got = out.toPandas()
    # budget: expected 6000 kept, binomial sd ~ 67
    assert abs(len(got) - 6000) < 350
    # no zero/NULL-weight survivors
    assert (got.w > 0).all()
    # proportionality below the clip: keep-rate ratio ~~ weight ratio
    kept_by_w = got.groupby("w").size()
    tot_by_w = pdf.groupby("w").size()
    r1 = kept_by_w.get(1.0, 0) / tot_by_w[1.0]
    r2 = kept_by_w.get(2.0, 0) / tot_by_w[2.0]
    assert r2 / r1 == pytest.approx(2.0, rel=0.15)
    # determinism
    again = importance_sample(df, "w", target_frac=0.3).toPandas()
    assert sorted(again.doc_id) == sorted(got.doc_id)


def test_importance_sample_clipping_still_fills_budget(spark):
    """When heavy rows clip at probability 1 the bisection must
    re-spread the lost mass: naive sum-scaling would keep ~21% here,
    the solver must still hit ~30%."""
    from opencosmo_spark.pipeline.sample import importance_sample

    n = 10000
    rng = np.random.default_rng(31)
    # 5% of rows carry 50x weight -> naive scale clips them hard
    w = np.where(rng.uniform(size=n) < 0.05, 50.0, 1.0)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(n), "w": w}))
    out = importance_sample(df, "w", target_frac=0.3)
    kept = out.count()
    assert abs(kept - 3000) < 300


def test_importance_sample_solve_scans_corpus_once(spark):
    """The budget solve must read the CORPUS at most twice (r6 verdict:
    the ~10 bisection probes used to rescan it every time). Counted by
    an accumulator-instrumented pass-through source: one cache
    materialization = n rows; the returned (lazy) filter adds nothing
    until collected. Survivor set must be unchanged vs the plain path."""
    from opencosmo_spark.pipeline.sample import importance_sample

    n = 5000
    rng = np.random.default_rng(37)
    w = np.where(rng.uniform(size=n) < 0.05, 50.0, 1.0)
    base = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(n), "w": w}))
    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    src = base.mapInPandas(counting, base.schema)
    out = importance_sample(src, "w", target_frac=0.3)  # solve runs here
    assert acc.value <= 2 * n, (
        f"solve scanned {acc.value / n:.1f} corpus-equivalents (max 2)"
    )
    got = sorted(r[0] for r in out.select("doc_id").collect())
    plain = sorted(
        r[0]
        for r in importance_sample(base, "w", target_frac=0.3)
        .select("doc_id")
        .collect()
    )
    assert got == plain


def test_importance_sample_unreachable_budget_warns(spark):
    """When target_frac exceeds the positive-weight fraction the budget
    is unreachable: the solver must warn (not silently under-fill) and
    return every positive-weight row."""
    import warnings as _warnings

    from opencosmo_spark.pipeline.sample import importance_sample

    n = 2000
    rng = np.random.default_rng(41)
    # only ~20% of rows have positive weight, budget wants 60%
    w = np.where(rng.uniform(size=n) < 0.2, 1.0, 0.0)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(n), "w": w}))
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        out = importance_sample(df, "w", target_frac=0.6)
        kept = out.count()
    assert any("unreachable" in str(x.message) for x in rec)
    assert kept == int((w > 0).sum())


def test_remove_duplicate_spans_excises_boilerplate(spark):
    """Planted shared boilerplate must be cut from every document
    while each document's unique text survives untouched; output
    matches a python oracle reimplementation exactly."""
    from opencosmo_spark.pipeline.dedup import remove_duplicate_spans

    boiler = "subscribe to our newsletter for daily updates and exclusive offers today"
    uniq = [
        "the tomato plants need deep watering twice weekly during summer heat",
        "quantum error correction codes protect fragile qubit states from noise",
        "the mountain trail climbs steeply past three alpine lakes before the summit",
    ]
    rows = [
        (0, uniq[0] + " " + boiler),
        (1, boiler + " " + uniq[1]),
        (2, uniq[2]),          # clean doc
        (3, "too short"),      # < span words: untouched
        (4, boiler),           # entirely boilerplate -> ''
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    span, min_docs = 8, 2
    out = {
        r["doc_id"]: r["text"]
        for r in remove_duplicate_spans(df, span=span, min_docs=min_docs).collect()
    }

    # python oracle: same windowing, same coverage rule
    texts = {i: t.split(" ") for i, t in rows}
    from collections import defaultdict

    docs_of = defaultdict(set)
    for i, ws in texts.items():
        for p in range(len(ws) - span + 1):
            docs_of[tuple(ws[p : p + span])].add(i)
    want = {}
    for i, ws in texts.items():
        covered = set()
        for p in range(len(ws) - span + 1):
            if len(docs_of[tuple(ws[p : p + span])]) >= min_docs:
                covered.update(range(p, p + span))
        want[i] = " ".join(w for j, w in enumerate(ws) if j not in covered)
    assert out == want
    # and the shape we intended: boilerplate gone, unique text intact
    for i in (0, 1):
        assert "newsletter" not in out[i]
    assert out[0].startswith("the tomato plants")
    assert out[2] == uniq[2]
    assert out[3] == "too short"
    assert out[4] == ""


def test_similarity_join_word_matches_bruteforce(spark):
    """Cross-corpus word-shingle Jaccard vs a python oracle: exact
    pair set and values for every positive threshold."""
    from opencosmo_spark.pipeline.dedup import similarity_join

    left = [
        (0, "the quick brown fox jumps over the lazy dog tonight"),
        (1, "completely different text about gardening and tomatoes"),
    ]
    right = [
        (10, "the quick brown fox jumps over the lazy dog today"),
        (11, "gardening with tomatoes is a rewarding hobby indeed"),
        (12, "unrelated passage about quantum error correction codes"),
    ]
    ldf = spark.createDataFrame(left, ["doc_id", "text"])
    rdf = spark.createDataFrame(right, ["doc_id", "text"])
    k, thr = 3, 0.2
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in similarity_join(ldf, rdf, k=k, threshold=thr).collect()
    }

    def shingles(t):
        ws = t.split()
        return {tuple(ws[i : i + k]) for i in range(max(len(ws) - k + 1, 1))}

    want = {}
    for i, lt in left:
        for j, rt in right:
            a, b = shingles(lt), shingles(rt)
            jac = len(a & b) / len(a | b)
            if jac >= thr:
                want[(i, j)] = round(jac, 6)
    assert got == want
    assert (0, 10) in got  # the near-identical pair was found


def test_similarity_join_char_entity_matching(spark):
    """Char-gram mode links dirty name variants across two tables and
    rejects unrelated names."""
    from opencosmo_spark.pipeline.dedup import similarity_join

    crm = spark.createDataFrame(
        [(0, "Jonathan Smithson"), (1, "Acme Corporation Ltd")],
        ["rec_id", "name"],
    )
    billing = spark.createDataFrame(
        [(10, "jonathan smithson"), (11, "ACME Corporation Limited"),
         (12, "Zerelda Quixote")],
        ["rec_id", "name"],
    )
    out = similarity_join(
        crm, billing, text_col="name", left_id="rec_id",
        right_id="rec_id", k=3, unit="char", threshold=0.5,
    ).collect()
    matched = {(r["a"], r["b"]) for r in out}
    assert (0, 10) in matched          # case-insensitive exact
    assert (1, 11) in matched          # Ltd vs Limited variant
    assert all(b != 12 for _, b in matched)  # no spurious link

    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive threshold"):
        similarity_join(crm, billing, threshold=0.0)


def test_similarity_join_containment_finds_quotes(spark):
    """A short passage fully contained in a long document scores
    containment 1.0 while its Jaccard stays tiny."""
    from opencosmo_spark.pipeline.dedup import similarity_join

    quote = "to be or not to be that is the question"
    long_doc = (
        "the prince wandered the halls muttering " + quote +
        " while the court watched from the shadows with growing unease "
        "and the play continued long into the cold evening hours"
    )
    ldf = spark.createDataFrame([(0, quote)], ["doc_id", "text"])
    rdf = spark.createDataFrame([(10, long_doc)], ["doc_id", "text"])
    cont = similarity_join(
        ldf, rdf, metric="containment", threshold=0.9
    ).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    jac = similarity_join(ldf, rdf, metric="jaccard", threshold=0.9).collect()
    assert jac == []  # jaccard misses the quote relation


def test_chunk_documents_overlap(spark):
    """Overlapping chunks: stride = max - overlap, consecutive chunks
    share exactly `overlap` tokens, every token covered, and
    overlap=0 reproduces the disjoint behavior."""
    from opencosmo_spark.pipeline.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    out = (
        chunk_documents(df, max_tokens=4, overlap=2)
        .orderBy("chunk_idx")
        .collect()
    )
    chunks = [r["chunk_text"].split() for r in out]
    # stride 2 over 10 tokens: starts 0,2,4,6 -> 4 chunks
    assert [c[0] for c in chunks] == ["w0", "w2", "w4", "w6"]
    for a, b in zip(chunks, chunks[1:]):
        assert a[-2:] == b[:2]  # exactly 2 shared tokens
    assert set(t for c in chunks for t in c) == set(text.split())

    disjoint = chunk_documents(df, max_tokens=4, overlap=0).collect()
    legacy = chunk_documents(df, max_tokens=4).collect()
    assert sorted(map(tuple, disjoint)) == sorted(map(tuple, legacy))

    with pytest.raises(ValueError, match="overlap must be"):
        chunk_documents(df, max_tokens=4, overlap=4)


def test_star_cc_stress_long_chain_and_blob(spark):
    """Star CC at moderate scale: a 3000-node path (diameter 3000 —
    hopeless for min-label's round budget) fused with a 500-node
    near-clique converges in O(log n) rounds and matches union-find."""
    import warnings

    from opencosmo_spark.pipeline.dedup import connected_components

    n_chain, n_blob = 3000, 500
    ea = list(range(n_chain - 1))
    eb = list(range(1, n_chain))
    rng = np.random.default_rng(97)
    blob = rng.integers(n_chain, n_chain + n_blob, size=(1500, 2))
    ea += [int(a) for a, b in blob if a != b]
    eb += [int(b) for a, b in blob if a != b]
    # weld the blob to the chain's far end
    ea.append(n_chain - 1)
    eb.append(n_chain)
    edges = spark.createDataFrame(pd.DataFrame({"a": ea, "b": eb}))
    nodes = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(n_chain + n_blob))})
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # must converge
        out = (
            connected_components(
                edges, nodes, id_col="doc_id", max_iterations=20,
                algorithm="star",
            )
            .toPandas()
        )
    # union-find oracle
    parent = list(range(n_chain + n_blob))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in zip(ea, eb):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(n_chain + n_blob)}
    got = out.set_index("doc_id")["cluster_id"].to_dict()
    assert got == want
    assert set(got.values()) == {0}  # everything welded into one group


def test_excise_contaminated_spans_surgical_decontamination(spark):
    """Eval-set spans are cut out of corpus documents while the rest
    of the text survives verbatim; clean docs are untouched; the
    python oracle reproduces the rebuilt text exactly."""
    from opencosmo_spark.pipeline.dedup import excise_contaminated_spans

    bench_q = "what is the capital of france answer paris of course"
    prefix = "my long blog post talks about many interesting things"
    suffix = "and then concludes with entirely original commentary here"
    corpus = spark.createDataFrame(
        [
            (0, f"{prefix} {bench_q} {suffix}"),
            (1, "a completely clean document with no overlap at all ok"),
            (2, bench_q),  # fully contaminated
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, bench_q)], ["doc_id", "text"])
    span = 6
    out = {
        r["doc_id"]: r["text"]
        for r in excise_contaminated_spans(
            corpus, ev, span=span
        ).collect()
    }

    # python oracle: same window hashing semantics = word windows;
    # any corpus word inside a window present in eval gets cut
    def windows(words, n):
        return {
            tuple(words[i : i + n]) for i in range(len(words) - n + 1)
        }

    evw = windows(bench_q.split(" "), span)
    for did, text in [(0, f"{prefix} {bench_q} {suffix}"),
                      (1, "a completely clean document with no overlap at all ok"),
                      (2, bench_q)]:
        ws = text.split(" ")
        cut = set()
        for i in range(len(ws) - span + 1):
            if tuple(ws[i : i + span]) in evw:
                cut.update(range(i, i + span))
        want = " ".join(w for i, w in enumerate(ws) if i not in cut)
        assert out[did] == want, (did, out[did], want)
    # sanity on the oracle itself: doc 0 keeps its prefix + suffix,
    # doc 1 untouched, doc 2 emptied
    assert out[0].startswith(prefix) and out[0].endswith(suffix)
    assert "capital" not in out[0]
    assert out[1].endswith("ok")
    assert out[2] == ""


def test_pack_chunks_bfd_python_twin_and_invariants(spark):
    """BFD packing equals an independent python twin exactly (same
    deterministic order), never exceeds the budget except flagged
    oversize singletons, and wastes no more capacity than naive
    arrival-order first-fit."""
    from bisect import bisect_left, insort

    import numpy as np

    from opencosmo_spark.pipeline.text import (
        pack_chunks_bfd,
        packing_report,
    )

    rng = np.random.default_rng(29)
    rows = [
        (int(i), 0, int(t))
        for i, t in enumerate(rng.integers(10, 200, size=300))
    ] + [(1000, 0, 500)]  # one oversize chunk (budget 256)
    df = spark.createDataFrame(rows, ["doc_id", "chunk_idx", "n_tokens"])
    budget = 256
    got = pack_chunks_bfd(df, budget=budget).toPandas()

    # python twin: same (-tokens, id, idx) order, same best-fit rule
    items = sorted(rows, key=lambda r: (-r[2], r[0], r[1]))
    bins, totals, want = [], [], {}
    for doc, idx, need in items:
        if need > budget:
            pid = len(totals)
            totals.append(need)
        else:
            i = bisect_left(bins, (need, -1))
            if i < len(bins):
                rem, pid = bins.pop(i)
                totals[pid] += need
                insort(bins, (rem - need, pid))
            else:
                pid = len(totals)
                totals.append(need)
                insort(bins, (budget - need, pid))
        want[(doc, idx)] = pid
    gmap = {
        (r.doc_id, r.chunk_idx): r.pack_id for r in got.itertuples()
    }
    assert gmap == want

    # invariants: totals within budget unless oversize; totals exact
    per_pack = got.groupby("pack_id").n_tokens.sum()
    for r in got.itertuples():
        assert r.pack_tokens == per_pack[r.pack_id]
        assert r.oversize == (r.doc_id == 1000)
        if not r.oversize:
            assert r.pack_tokens <= budget

    # BFD uses no more packs than arrival-order first-fit
    ff_bins = []
    for _, _, need in rows:
        if need > budget:
            ff_bins.append(need)
            continue
        for j, used in enumerate(ff_bins):
            if used + need <= budget:
                ff_bins[j] += need
                break
        else:
            ff_bins.append(need)
    assert got.pack_id.nunique() <= len(ff_bins)

    rep = packing_report(pack_chunks_bfd(df, budget=budget), budget)
    assert rep["packs"] == got.pack_id.nunique()
    assert rep["oversize_packs"] == 1
    assert rep["tokens"] == sum(r[2] for r in rows)
    assert (
        rep["waste"]
        == (rep["packs"] - 1) * budget - (rep["tokens"] - 500)
    )
    assert 0 <= rep["waste_frac"] < 0.5


def test_pack_chunks_bfd_sharded_isolation_and_determinism(spark):
    """Packs never span shards; the assignment is invariant under
    repartitioning; loud errors on bad inputs."""
    import numpy as np
    import pytest

    from opencosmo_spark.pipeline.text import (
        pack_chunks_bfd,
        packing_report,
    )

    rng = np.random.default_rng(31)
    rows = [
        (int(i), 0, int(t), ["a", "b", "c"][i % 3])
        for i, t in enumerate(rng.integers(20, 120, size=200))
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "chunk_idx", "n_tokens", "shard"]
    )
    a = pack_chunks_bfd(df, budget=128, shard_col="shard").toPandas()
    b = pack_chunks_bfd(
        df.repartition(13, "doc_id"), budget=128, shard_col="shard"
    ).toPandas()
    key = ["doc_id", "chunk_idx"]
    assert (
        a.sort_values(key).reset_index(drop=True)[
            ["doc_id", "pack_id", "pack_tokens"]
        ].equals(
            b.sort_values(key).reset_index(drop=True)[
                ["doc_id", "pack_id", "pack_tokens"]
            ]
        )
    )
    # a (shard, pack) never mixes shards by construction; pack totals
    # within budget
    assert (a.pack_tokens <= 128).all()
    rep = packing_report(
        pack_chunks_bfd(df, budget=128, shard_col="shard"),
        128,
        shard_col="shard",
    )
    assert rep["tokens"] == sum(r[2] for r in rows)
    assert rep["packs"] >= 3  # at least one pack per shard

    with pytest.raises(ValueError, match="budget"):
        pack_chunks_bfd(df, budget=0)
    with pytest.raises(ValueError, match="not in input"):
        pack_chunks_bfd(df, shard_col="nope")
    with pytest.raises(ValueError, match="not in input"):
        pack_chunks_bfd(df.drop("n_tokens"))


def test_ann_index_roundtrip_and_search(spark, tmp_path):
    """write_ann_index -> read_ann_index -> ann_index_search: full
    probe equals brute force exactly; codebooks round-trip
    bit-for-bit; probe filters prune at the partition level; the PQ
    variant with exact rerank recovers brute force under full probe."""
    from opencosmo_spark.pipeline import brute_force_cosine_topk
    from opencosmo_spark.pipeline.similarity import (
        ann_index_search,
        read_ann_index,
        train_ivf_codebook,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = list(
        np.asarray(
            emb.filter(F.col("vec_id") == 3).toPandas().embedding[0],
            dtype=float,
        )
    )

    # flat (no-PQ) index
    p1 = str(tmp_path / "ann_flat")
    params = write_ann_index(emb, p1, nlist=8, ivf_iters=2)
    idx = read_ann_index(spark, p1)
    assert idx["codebook"] == [
        (int(c), list(map(float, v))) for c, v in params["codebook"]
    ]
    got = ann_index_search(idx, q, k=8, nprobe=8).toPandas()
    brute = brute_force_cosine_topk(emb, q, k=8).toPandas()
    assert list(got.iloc[:, 0]) == list(brute.vec_id)
    np.testing.assert_array_equal(got.cos_sim, brute.cos_sim)
    # the index search agrees with a LIVE search against the same
    # trained codebook at tight nprobe (same quantizer, same probes)
    from opencosmo_spark.pipeline.similarity import ivf_ann

    live = ivf_ann(
        emb, q, k=5, nlist=8, nprobe=2, codebook=idx["codebook"]
    ).toPandas()
    via_index = ann_index_search(idx, q, k=5, nprobe=2).toPandas()
    assert list(via_index.iloc[:, 0]) == list(live.vec_id)

    # partition pruning: the probe predicate lands in the scan's
    # PartitionFilters (directory-level pruning, not a post-scan
    # filter)
    import re

    probed = idx["df"].filter(F.col("ivf_cell").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*ivf_cell[^\]]*IN", plan)
    assert m, f"probe filter not pushed to PartitionFilters:\n{plan[:800]}"

    # PQ-encoded index, exact rerank, full probe == brute force
    p2 = str(tmp_path / "ann_pq")
    write_ann_index(
        emb, p2, nlist=8, ivf_iters=2, pq_m=4, pq_ksub=8, pq_iters=2
    )
    idx2 = read_ann_index(spark, p2)
    assert idx2["pq_codebooks"] is not None
    got2 = ann_index_search(idx2, q, k=8, nprobe=8).toPandas()
    # the coarse 4x8 ADC bounds recall at this corpus size, but the
    # rerank guarantees: the query itself wins, every returned score
    # is the EXACT cosine (numpy twin), and the order is descending
    assert got2.iloc[0, 0] == brute.vec_id.iloc[0]
    allv = {
        int(r.vec_id): np.asarray(r.embedding, dtype=float)
        for r in emb.toPandas().itertuples()
    }
    qv = np.asarray(q)
    for r in got2.itertuples():
        v = allv[int(r[1])]
        exact = round(
            float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))), 6
        )
        assert r.cos_sim == pytest.approx(exact, abs=1e-6)
    assert list(got2.cos_sim) == sorted(got2.cos_sim, reverse=True)

    # loud error on a directory without the sidecar
    bare = str(tmp_path / "bare")
    emb.limit(4).write.parquet(bare)
    with pytest.raises(ValueError, match="_ann_params"):
        read_ann_index(spark, bare)


def test_append_to_ann_index_incremental(spark, tmp_path):
    """Appended vectors join the same cell partitions under the
    STORED quantizer: searches see them immediately, old rows are
    untouched, and an appended query vector becomes its own top-1."""
    from opencosmo_spark.pipeline.similarity import (
        ann_index_search,
        append_to_ann_index,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.filter(F.col("vec_id") < 400)
    extra = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    p = str(tmp_path / "ann_inc")
    write_ann_index(base, p, nlist=8, ivf_iters=2)
    before = read_ann_index(spark, p)
    n_before = before["df"].count()

    n = append_to_ann_index(p, extra)
    assert n == extra.count()
    after = read_ann_index(spark, p)
    assert after["df"].count() == n_before + n
    # quantizer unchanged — appends must never retrain
    assert after["codebook"] == before["codebook"]

    # an appended vector is findable: query with one of the new rows
    row = extra.limit(1).collect()[0]
    q = [float(x) for x in row["embedding"]]
    got = ann_index_search(after, q, k=3, nprobe=8).toPandas()
    assert int(got.iloc[0, 0]) == int(row["vec_id"])
    assert got.iloc[0]["cos_sim"] == 1.0


def test_ann_index_search_batch_and_index_recall(spark, tmp_path):
    """Round 10: batch-query retrieval over the PERSISTED artifact
    equals the per-query ann_index_search loop; the probed-cell
    filter lands in the parquet scan's PartitionFilters (directory
    pruning); ann_recall_report(index=...) sweeps the stored artifact
    and must hit recall 1.0 at nprobe = nlist."""
    import re

    from opencosmo_spark.pipeline.similarity import (
        ann_index_search,
        ann_index_search_batch,
        ann_recall_report,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "ann_batch")
    write_ann_index(emb, p, nlist=8, ivf_iters=2)
    idx = read_ann_index(spark, p)

    queries = emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = ann_index_search_batch(idx, queries, k=5, nprobe=2)
    got = batch.toPandas()

    # equality with the single-vector entry point, query by query
    for row in queries.toPandas().itertuples():
        loop = ann_index_search(
            idx, [float(x) for x in row.embedding], k=5, nprobe=2
        ).toPandas()
        sub = got[got.query_id == row.query_id].sort_values("rank")
        assert list(sub.vec_id) == list(loop.vec_id), row.query_id
        np.testing.assert_allclose(sub.cos_sim, loop.cos_sim)

    # the prune filter is a static IN over the probed cells: it must
    # reach PartitionFilters on the index scan, not a post-scan filter
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*ivf_cell[^\]]*IN", plan
    ), f"probe cells not pruned at partition level:\n{plan[:1200]}"

    # recall sweep over the stored index: probing every cell IS the
    # exact scan, so nprobe = nlist pins recall exactly 1.0
    rep = {
        r["nprobe"]: r["recall_at_k"]
        for r in ann_recall_report(
            queries, index=idx, k=5, nprobes=(1, 8)
        ).collect()
    }
    assert rep[8] == 1.0
    assert 0.0 <= rep[1] <= 1.0

    with pytest.raises(ValueError, match="index="):
        ann_recall_report(queries)


def test_ann_index_search_batch_pq_adc_scoring(spark, tmp_path):
    """Batch search over a PQ-encoded index scores ADC over the
    stored CODES (codes-only ReadSchema on the big scan, plan-pinned)
    and exact-reranks the top 4k against the stored vectors — the
    same semantics as the single-query ann_index_search path, which
    it must match query-for-query. exact_rerank=False exposes the
    raw adc_dist ranking, which equals pq_search over the probed
    cells."""
    import re

    from opencosmo_spark.pipeline.similarity import (
        ann_index_search,
        ann_index_search_batch,
        pq_search,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "ann_pq_batch")
    write_ann_index(emb, p, nlist=8, ivf_iters=2, pq_m=4, pq_ksub=8, pq_iters=2)
    idx = read_ann_index(spark, p)

    queries = emb.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = ann_index_search_batch(idx, queries, k=5, nprobe=3)
    got = batch.toPandas()

    # 1) per-query equality with the single-vector entry point
    for row in queries.toPandas().itertuples():
        loop = ann_index_search(
            idx, [float(x) for x in row.embedding], k=5, nprobe=3
        ).toPandas()
        sub = got[got.query_id == row.query_id].sort_values("rank")
        assert list(sub.vec_id) == list(loop.vec_id), row.query_id
        np.testing.assert_allclose(sub.cos_sim, loop.cos_sim)

    # 2) the ADC scan reads only the codes: every scan of the index
    # table that carries pq_codes must NOT carry the vector column
    plan = batch._jdf.queryExecution().executedPlan().toString()
    code_scans = [
        ln
        for ln in plan.splitlines()
        if "ReadSchema" in ln and "pq_codes" in ln
    ]
    assert code_scans, f"no codes scan found:\n{plan[:1500]}"
    assert all("embedding" not in ln for ln in code_scans), code_scans
    # and the probed-cell filter still prunes at the directory level
    assert re.search(r"PartitionFilters: \[[^\]]*ivf_cell[^\]]*IN", plan)

    # 3) the self-query reranks to the top with cos_sim 1.0
    firsts = got[got["rank"] == 1]
    assert set(firsts.query_id) == set(firsts.vec_id)
    np.testing.assert_allclose(firsts.cos_sim, 1.0)

    # 4) unreranked mode returns the pure ADC ranking = pq_search
    # over the same probed cells, query by query
    raw = ann_index_search_batch(
        idx, queries, k=4, nprobe=3, exact_rerank=False
    ).toPandas()
    assert "adc_dist" in raw.columns
    from opencosmo_spark.pipeline.similarity import _nearest_cells

    for row in queries.toPandas().itertuples():
        qv = [float(x) for x in row.embedding]
        cells = _nearest_cells(qv, idx["codebook"], 3)
        cand = idx["df"].filter(F.col("ivf_cell").isin(cells))
        want = pq_search(
            cand, idx["pq_codebooks"], qv, k=4, id_col="vec_id"
        ).toPandas()
        sub = raw[raw.query_id == row.query_id].sort_values("rank")
        assert list(sub.vec_id) == list(want.vec_id), row.query_id
        np.testing.assert_allclose(sub.adc_dist, want.adc_dist, atol=1e-5)


def test_single_and_batch_ivf_probes_agree_at_near_tie(spark):
    """The driver probe ranking (single-query search) and the per-row
    JVM one (batch search) share one key, (-round(cos, 6), cell id):
    two centroids whose cosines to the query differ only in the 7th
    decimal tie, and both paths probe the lower cell id."""
    from opencosmo_spark.pipeline.similarity import (
        ann_index_search,
        ann_index_search_batch,
    )

    def unit(c):
        return [c, math.sqrt(1.0 - c * c)]

    codebook = [(0, unit(0.5000001)), (1, unit(0.5000004))]
    corpus = spark.createDataFrame(
        [(10, unit(0.6), 0), (11, unit(0.4), 1)],
        "vec_id long, embedding array<double>, ivf_cell int",
    )
    index = {
        "df": corpus,
        "codebook": codebook,
        "pq_codebooks": None,
        "params": {"id_col": "vec_id", "vec_col": "embedding"},
    }
    single = ann_index_search(index, [1.0, 0.0], k=5, nprobe=1)
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    batch = ann_index_search_batch(index, queries, k=5, nprobe=1)
    assert [r.vec_id for r in single.collect()] == [10]
    assert [r.vec_id for r in batch.collect()] == [10]


def test_lsh_bucket_ann_construction_cost(spark):
    """Building the LSH ANN plan renders every cosine and bucket fold
    as parsed SQL text: the py4j calls it makes on the calling thread
    stay far below the per-lambda cost of Column-built folds (260 on
    this 50-row, 16-dim frame when the folds were Column-built)."""
    import threading

    from opencosmo_spark.pipeline.similarity import lsh_bucket_ann

    rng = np.random.default_rng(11)
    vecs = [[float(x) for x in rng.normal(size=16)] for _ in range(50)]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []
    me = threading.get_ident()

    def counted(*a, **k):
        # py4j's finalizer thread releases dead JVM references through
        # the same client; count only the calls the build itself makes
        if threading.get_ident() == me:
            calls.append(1)
        return send(*a, **k)

    client.send_command = counted
    try:
        out = lsh_bucket_ann(df, vecs[7], k=5)
    finally:
        client.send_command = send
    assert len(calls) <= 120, len(calls)
    top = out.first()
    assert (top.vec_id, top.cos_sim) == (7, 1.0)


def test_block_pack_ids_matches_python_twin(spark):
    """The pretraining concat-and-chunk packer: blocks equal the
    python concatenation exactly, doc_spans slice the right tokens,
    eos separators and ragged-tail handling behave, shard mode packs
    per shard."""
    import numpy as np

    from opencosmo_spark.pipeline.text import block_pack_ids

    rng = np.random.default_rng(61)
    docs = [
        (i, [int(x) for x in rng.integers(5, 500, size=rng.integers(1, 40))])
        for i in range(30)
    ]
    docs.append((30, []))  # zero-token doc contributes nothing
    df = spark.createDataFrame(docs, "doc_id long, input_ids array<int>")
    B, EOS = 32, 0

    def twin(eos=None):
        stream, spans = [], {}
        for i, ids in sorted(docs):
            seq = ids + ([eos] if eos is not None else [])
            spans[i] = (len(stream), len(stream) + len(seq))
            stream.extend(seq)
        blocks = [
            stream[i : i + B] for i in range(0, len(stream), B)
        ]
        return stream, blocks

    for eos in (None, EOS):
        stream, blocks = twin(eos)
        full = [b for b in blocks if len(b) == B]
        got = (
            block_pack_ids(df, B, eos_id=eos)
            .orderBy("block_id")
            .collect()
        )
        assert [list(r["input_ids"]) for r in got] == full
        assert all(r["n_tokens"] == B for r in got)
        # doc_spans slice exactly the document's tokens
        for r in got:
            base = r["block_id"] * B
            for sp in r["doc_spans"]:
                piece = r["input_ids"][sp["start"] : sp["end"]]
                assert list(piece) == stream[base + sp["start"] : base + sp["end"]]
        # keep-last mode reconstructs the whole stream
        kept = (
            block_pack_ids(df, B, eos_id=eos, drop_last=False)
            .orderBy("block_id")
            .collect()
        )
        flat = [x for r in kept for x in r["input_ids"]]
        assert flat == stream

    # a long doc splits across >2 blocks and every span re-slices it
    long_doc = [(0, list(range(100)))]
    ldf = spark.createDataFrame(long_doc, "doc_id long, input_ids array<int>")
    lb = block_pack_ids(ldf, 16, drop_last=False).orderBy("block_id").collect()
    assert [x for r in lb for x in r["input_ids"]] == list(range(100))
    assert len(lb) == 7

    # shard mode: blocks never span shards
    sdf = df.withColumn(
        "shard", (F.col("doc_id") % 2).cast("int")
    )
    per = block_pack_ids(sdf, B, shard_col="shard", drop_last=False)
    tot = per.groupBy("shard").agg(
        F.sum("n_tokens").alias("t")
    ).collect()
    want = {
        s: sum(len(ids) for i, ids in docs if i % 2 == s)
        for s in (0, 1)
    }
    assert {r["shard"]: r["t"] for r in tot} == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="block_size"):
        block_pack_ids(df, 0)
    with _pytest.raises(ValueError, match="not in input"):
        block_pack_ids(df, 8, ids_col="nope")


def test_block_pack_ids_shuffle_seed(spark):
    """shuffle_seed: equals the explicit order_col form with
    xxhash64(doc_id, seed) hand-built; deterministic per seed; a
    different seed gives a different document permutation; mutually
    exclusive with order_col."""
    import numpy as np
    import pytest as _pytest

    from opencosmo_spark.pipeline.text import block_pack_ids

    rng = np.random.default_rng(7)
    docs = [
        (i, [int(x) for x in rng.integers(5, 500, size=rng.integers(1, 40))])
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, input_ids array<int>")
    B = 32

    def rows(out):
        return [
            (
                r["block_id"],
                list(r["input_ids"]),
                [(s["doc_id"], s["start"], s["end"]) for s in r["doc_spans"]],
            )
            for r in out.orderBy("block_id").collect()
        ]

    got = rows(block_pack_ids(df, B, eos_id=0, shuffle_seed=17))
    want = rows(
        block_pack_ids(
            df.withColumn(
                "__k", F.xxhash64(F.col("doc_id"), F.lit(17))
            ),
            B,
            eos_id=0,
            order_col="__k",
        )
    )
    assert got == want
    # deterministic for the same seed
    assert got == rows(block_pack_ids(df, B, eos_id=0, shuffle_seed=17))
    # a different seed permutes the documents (streams differ)
    other = rows(block_pack_ids(df, B, eos_id=0, shuffle_seed=18))
    assert [g[1] for g in got] != [o[1] for o in other]
    # same multiset of tokens either way
    flat = sorted(
        x
        for r in block_pack_ids(
            df, B, eos_id=0, shuffle_seed=17, drop_last=False
        ).collect()
        for x in r["input_ids"]
    )
    base = sorted(
        x
        for r in block_pack_ids(df, B, eos_id=0, drop_last=False).collect()
        for x in r["input_ids"]
    )
    assert flat == base
    with _pytest.raises(ValueError, match="mutually exclusive"):
        block_pack_ids(df, B, shuffle_seed=1, order_col="doc_id")


def test_block_position_ids_tile_blocks(spark):
    """position_ids restart at every doc boundary, segment_ids index
    the spans, and both arrays are exactly n_tokens long."""
    import numpy as np

    from opencosmo_spark.pipeline.text import block_pack_ids, block_position_ids

    rng = np.random.default_rng(29)
    docs = [
        (i, [int(x) for x in rng.integers(1, 9, size=rng.integers(1, 20))])
        for i in range(12)
    ]
    df = spark.createDataFrame(docs, "doc_id long, input_ids array<int>")
    out = block_position_ids(
        block_pack_ids(df, 16, eos_id=0, drop_last=False)
    ).collect()
    assert out
    for r in out:
        assert len(r["position_ids"]) == r["n_tokens"]
        assert len(r["segment_ids"]) == r["n_tokens"]
        # twin from the spans themselves
        want_pos, want_seg = [], []
        for i, sp in enumerate(r["doc_spans"]):
            want_pos.extend(range(sp["end"] - sp["start"]))
            want_seg.extend([i] * (sp["end"] - sp["start"]))
        assert list(r["position_ids"]) == want_pos
        assert list(r["segment_ids"]) == want_seg


def test_ann_index_residual_pq(spark, tmp_path):
    """pq_residual=True: codes live in residual space (FAISS-IVFADC).
    The flag persists in the sidecar and every path honors it — batch
    search equals the single-query path query-for-query, append
    stamps residual codes — and residual quantization reconstructs
    the corpus strictly better than raw-space PQ at the same m/ksub
    budget (the reason the composition exists)."""
    from opencosmo_spark.pipeline.similarity import (
        ann_index_search,
        ann_index_search_batch,
        append_to_ann_index,
        read_ann_index,
        write_ann_index,
    )

    # CLUSTERED corpus — the regime residual PQ exists for: vectors
    # sit near one of a few centers, so residuals are small and the
    # same m x ksub budget quantizes them far more finely than the
    # raw spread. (On isotropic random data the two spaces coincide
    # and the comparison is a coin flip.)
    rng = np.random.default_rng(5)
    centers = rng.normal(0, 1.0, (6, 32))
    rows = [
        (
            i,
            [
                float(x)
                for x in centers[i % 6] + rng.normal(0, 0.05, 32)
            ],
        )
        for i in range(360)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    base = emb.filter(F.col("vec_id") < 300)
    pr = str(tmp_path / "ann_res")
    pf = str(tmp_path / "ann_raw")
    kw = dict(nlist=6, ivf_iters=3, pq_m=4, pq_ksub=8, pq_iters=3)
    write_ann_index(base, pr, pq_residual=True, **kw)
    write_ann_index(base, pf, **kw)
    idx_r = read_ann_index(spark, pr)
    idx_f = read_ann_index(spark, pf)
    assert idx_r["params"]["pq_residual"] is True
    assert idx_f["params"]["pq_residual"] is False

    # 1) residual reconstruction beats raw-space PQ at the same budget
    def mse(idx):
        cents = {cid: np.array(c) for cid, c in idx["codebook"]}
        books = [np.array(b) for b in idx["pq_codebooks"]]
        dsub = books[0].shape[1]
        tot = n = 0.0
        for r in idx["df"].collect():
            v = np.array(r[idx["params"]["vec_col"]], dtype=float)
            rec = np.concatenate(
                [books[s][r["pq_codes"][s]] for s in range(len(books))]
            )
            if idx["params"]["pq_residual"]:
                rec = rec + cents[r["ivf_cell"]]
            tot += float(((v - rec) ** 2).sum())
            n += 1
        return tot / n

    assert mse(idx_r) < mse(idx_f)

    # 2) batch == single-query on the residual index, query by query
    queries = emb.filter(F.col("vec_id") % 60 == 11).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_index_search_batch(idx_r, queries, k=5, nprobe=3).toPandas()
    for row in queries.toPandas().itertuples():
        loop = ann_index_search(
            idx_r, [float(x) for x in row.embedding], k=5, nprobe=3
        ).toPandas()
        sub = got[got.query_id == row.query_id].sort_values("rank")
        assert list(sub.vec_id) == list(loop.vec_id), row.query_id
        np.testing.assert_allclose(sub.cos_sim, loop.cos_sim)

    # every top hit is an essentially-exact cluster mate (tight
    # clusters: rounded cosine ~1; NOTE self-retrieval is not
    # guaranteed under quantization collapse — 50 near-identical
    # residuals tie in ADC and the id tie-break decides)
    # (cluster-mate cosine at noise 0.05 on |c|~sqrt(32) is ~0.9975)
    assert (got[got["rank"] == 1].cos_sim > 0.99).all()

    # 3) append stamps residual codes with the stored quantizers
    new = emb.filter(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 320)
    )
    n = append_to_ann_index(pr, new)
    assert n == new.count()
    idx_r2 = read_ann_index(spark, pr)
    from opencosmo_spark.pipeline.similarity import (
        _pq_encode_indexed,
        assign_ivf_cells,
    )

    want = _pq_encode_indexed(
        assign_ivf_cells(
            new.select("vec_id", "embedding"),
            idx_r["codebook"],
            cell_col="ivf_cell",
        ),
        idx_r["codebook"],
        idx_r["pq_codebooks"],
        "embedding",
        residual=True,
    )
    got2 = idx_r2["df"].filter(F.col("vec_id") >= 300)
    norm = lambda df: sorted(  # noqa: E731
        (int(r["vec_id"]), tuple(int(c) for c in r["pq_codes"]))
        for r in df.collect()
    )
    assert norm(got2) == norm(want)


def test_pq_rerank_depth_report(spark, tmp_path):
    """Recall@k vs ADC rerank depth over a PQ index: monotone
    non-decreasing in depth, and a depth covering every probed
    candidate pins recall exactly 1.0 (the ground truth is the same
    probe with exact scoring, so only quantization ordering can lose
    pairs); flat indexes refuse."""
    from opencosmo_spark.pipeline.similarity import (
        pq_rerank_depth_report,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "ann_depth")
    write_ann_index(
        emb, p, nlist=8, ivf_iters=2, pq_m=4, pq_ksub=8, pq_iters=2,
        pq_residual=True,
    )
    idx = read_ann_index(spark, p)
    queries = emb.filter(F.col("vec_id") % 125 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rep = {
        r["rerank_depth"]: r["recall_at_k"]
        for r in pq_rerank_depth_report(
            idx, queries, k=5, nprobe=3, depths=(5, 20, 500)
        ).collect()
    }
    assert rep[5] <= rep[20] <= rep[500]
    # 500 > any probed candidate count at sf0.001 -> exact ordering
    assert rep[500] == 1.0
    assert 0.0 < rep[5] <= 1.0

    pf = str(tmp_path / "ann_depth_flat")
    write_ann_index(emb, pf, nlist=8, ivf_iters=2)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="PQ-encoded"):
        pq_rerank_depth_report(read_ann_index(spark, pf), queries)


def test_ann_batch_rerank_depth_zero_rejected(spark, tmp_path):
    """rerank_depth=0 is an invalid explicit depth (< k): it must hit
    the depth validation, not silently fall back to the 4*k default
    the way a truthiness test would."""
    from opencosmo_spark.pipeline.similarity import (
        ann_index_search_batch,
        read_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p = str(tmp_path / "ann_depth0")
    write_ann_index(
        emb, p, nlist=4, ivf_iters=2, pq_m=4, pq_ksub=8, pq_iters=2,
    )
    idx = read_ann_index(spark, p)
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="rerank_depth"):
        ann_index_search_batch(idx, queries, k=5, rerank_depth=0)
