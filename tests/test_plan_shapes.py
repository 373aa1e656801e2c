"""Physical-plan shape regressions.

Correctness tests prove the operators compute the right rows; these
prove Catalyst picks the *physical strategy we designed for scale*
(SCALE.md). A refactor that silently turns a broadcast join into a
sort-merge join, adds a shuffle to a spatial restrict, or drops
TakeOrderedAndProject from top-k still passes every oracle — only a
plan assertion catches it before it costs 100× at 100 TB.
"""

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(spark, qname: str) -> str:
    df = entry.queries()[qname](spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def count_in(plan: str, token: str) -> int:
    return plan.count(token)


def nodes(plan: str) -> list[str]:
    """Physical operator names from the formatted plan's detail list."""
    import re

    return re.findall(r"\(\d+\) (\w+)", plan)


def partitionings(plan: str) -> list[str]:
    import re

    return re.findall(r"Arguments: (\w+)partitioning", plan)


def test_q22_dims_broadcast_one_shuffle(spark):
    """4-table star join: every dimension broadcasts; the only exchange
    is the final group-by's."""
    plan = plan_of(spark, "q22_join_nested_agg")
    n = nodes(plan)
    assert n.count("BroadcastHashJoin") == 3
    assert n.count("SortMergeJoin") == 0
    # one shuffle for the aggregation; dims move by broadcast only
    assert n.count("Exchange") == 1
    assert partitionings(plan) == ["hash"]


def test_q21_semi_cascade_broadcasts(spark):
    plan = plan_of(spark, "q21_semi_cascade")
    assert "LeftSemi" in plan
    assert count_in(plan, "SortMergeJoin") == 0


def test_q29_spatial_no_shuffle_no_udf(spark):
    """Spatial restrict = scan + filter in one codegen stage."""
    plan = plan_of(spark, "q29_spatial_box")
    assert count_in(plan, "Exchange") == 0
    assert "BatchEvalPython" not in plan
    assert "codegen id" in plan


def test_q08_topk_is_take_ordered(spark):
    """sort_by().take(n) must never plan a global sort."""
    plan = plan_of(spark, "q08_sort_topk")
    assert "TakeOrderedAndProject" in plan
    assert "range" not in partitionings(plan)


def test_q01_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q01_scan_filter_project")
    assert "PushedFilters: [" in plan
    # the pushed-filter list must be non-empty
    assert "PushedFilters: []" not in plan


def test_q15_partial_aggregation(spark):
    """TPC-H Q1 must map-side combine (two HashAggregates around one
    exchange), not shuffle raw rows."""
    plan = plan_of(spark, "q15_tpch_q1")
    n = nodes(plan)
    assert n.count("HashAggregate") >= 2
    # one hash exchange (partial->final agg) + one range (final sort)
    assert sorted(partitionings(plan)) == ["hash", "range"]


def test_q35_minhash_no_cartesian(spark):
    """LSH candidate generation must be a key join, never a cross."""
    plan = plan_of(spark, "q35_minhash_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_python_udf_in_jvm_operators(spark):
    """Every operator that claims 'built-in expressions only' must not
    plan a Python eval node."""
    for q in (
        "q30_text_profile",
        "q31_dedup_fingerprint",
        "q33_cosine_topk",
        "q35_minhash_lsh",
        "q36_simhash",
        "q40_ann_lsh",
        "q49_ivf_lloyd_step",
    ):
        plan = plan_of(spark, q)
        assert "BatchEvalPython" not in plan, q
        assert "ArrowEvalPython" not in plan, q


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection over lineitem must not read all 16 cols."""
    plan = plan_of(spark, "q01_scan_filter_project")
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, "no parquet scan in plan"
    ncols = len([c for c in m.group(1).split(",") if c])
    assert ncols <= 6, f"scan reads {ncols} columns: {m.group(1)}"


def test_q39_no_inferred_filter_under_generate(spark):
    """InferFiltersFromGenerate must stay excluded: it synthesizes a
    size(arr)>0 filter that pushdown inlines into an interpreted per-row
    re-evaluation of the whole shingle pipeline (measured 40-80x)."""
    plan = plan_of(spark, "q39_ngram_jaccard")
    n = nodes(plan)
    assert "Generate" in n
    # no Filter node may contain the shingle-building expression tree
    import re

    for block in re.split(r"\n\n", plan):
        if re.match(r"\(\d+\) Filter", block.strip()):
            assert "transform(" not in block, (
                "array-producing expression inlined into a Filter:\n" + block
            )


def test_q39_pair_generation_is_equi_join(spark):
    """Pair generation must be the codegen'd EQUI-self-join on the
    shingle hash — never a cross product, and never the interpreted
    collect_list/transform expansion (which runs a non-codegen lambda
    per posting-list element and concentrates a hot shingle's s^2
    blowup in one task; the join spreads pairs across reducers and
    AQE skew-join splits hot keys)."""
    plan = plan_of(spark, "q39_ngram_jaccard")
    n = nodes(plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = [x for x in n if "Join" in x]
    assert len(joins) == 1, joins  # exactly the shingle-hash equi-join
    assert "collect_list" not in plan


def test_q51_star_join_broadcasts_and_pushes(spark):
    """TPC-H Q3 shape: dims broadcast (no sort-merge at this SF) and
    every filter reaches its parquet scan."""
    plan = plan_of(spark, "q51_tpch_q3")
    n = nodes(plan)
    assert n.count("SortMergeJoin") == 0
    assert n.count("BroadcastHashJoin") == 2
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_q50_sample_is_pushable_scan_filter(spark, monkeypatch):
    """Stratified sampling compiles to a bare filter over one scan: no
    exchange, no join, no Python. The query adds ONE scale-adaptive
    keyed spread (a no-op at real scale — OC_SPREAD_DISABLE pins the
    operator's intrinsic shape here); with the spread on, the only
    exchange allowed is that hash repartition and the stratified lane
    filter must still sit BELOW it (survivors-only shuffle)."""
    monkeypatch.setenv("OC_SPREAD_DISABLE", "1")
    plan = plan_of(spark, "q50_stratified_sample")
    n = nodes(plan)
    assert "Exchange" not in n
    assert not any("Join" in x for x in n)
    assert "BatchEvalPython" not in n

    monkeypatch.delenv("OC_SPREAD_DISABLE")
    plan = plan_of(spark, "q50_stratified_sample")
    n = nodes(plan)
    assert n.count("Exchange") <= 2  # one keyed spread per branch
    assert "REPARTITION_BY_NUM" in plan
    assert not any("Join" in x for x in n)
    assert "BatchEvalPython" not in n
    # the md5 lane filter pushed below the spread: scan side filters
    scan_side = plan.split("Exchange", 1)[-1]
    assert "md5" in scan_side


def test_q27_rolling_windows_single_exchange(spark):
    """Merged ROWS running-total + RANGE 1h rolling window: both frames
    partition by user_id, so ONE hash exchange feeds both window nodes
    (sorts differ — ts,event_id vs ts — but the partitioning is
    reused)."""
    plan = plan_of(spark, "q27_window_running")
    n = nodes(plan)
    assert n.count("Exchange") == 1
    assert n.count("Window") == 2


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key: the join plans with ZERO
    Exchange on either side (bucket layout = hash partitioning carried
    in catalog metadata) — the SCALE.md §2 pre-bucketing claim."""
    import pandas as pd

    from opencosmo_spark.io.ingest import write_bucketed

    halos = pd.DataFrame({"tag": range(200), "mass": [float(i) for i in range(200)]})
    parts = pd.DataFrame(
        {"tag": [i % 200 for i in range(2000)], "pid": range(2000)}
    )
    write_bucketed(
        spark.createDataFrame(halos), "halos_b", "tag", buckets=8,
        path=str(tmp_path / "halos_b"),
    )
    write_bucketed(
        spark.createDataFrame(parts), "parts_b", "tag", buckets=8,
        path=str(tmp_path / "parts_b"),
    )
    try:
        # disable broadcast so the join would OTHERWISE shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("halos_b").join(spark.table("parts_b"), "tag")
        assert j.count() == 2000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        # bucketed scan advertises the output partitioning
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS halos_b")
        spark.sql("DROP TABLE IF EXISTS parts_b")


def test_pack_chunks_sharded_no_global_sort(spark):
    """pack_chunks(shard_col=...) must plan a hash-partitioned window,
    never the single-reducer global sort of the unsharded default —
    the 100 TB posture promoted into the API."""
    import pandas as pd

    from opencosmo_spark.pipeline.text import pack_chunks

    chunks = spark.createDataFrame(
        pd.DataFrame(
            {
                "shard": ["a"] * 4 + ["b"] * 4,
                "doc_id": [1, 1, 2, 3, 4, 5, 5, 6],
                "chunk_idx": [0, 1, 0, 0, 0, 0, 1, 0],
                "n_tokens": [64, 10, 64, 64, 30, 64, 64, 40],
            }
        )
    )
    sharded = pack_chunks(chunks, budget=128, shard_col="shard")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = sharded._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan

    # the unsharded default IS the global sort (documented trade)
    global_plan = (
        pack_chunks(chunks, budget=128)
        ._jdf.queryExecution()
        .explainString(mode)
    )
    assert "SinglePartition" in global_plan

    # per-shard semantics: pack ids restart within each shard
    out = sharded.toPandas()
    a = out[out.shard == "a"].sort_values(["doc_id", "chunk_idx"])
    b = out[out.shard == "b"].sort_values(["doc_id", "chunk_idx"])
    # shard a start offsets: 0,64,74,138 -> packs 0,0,0,1
    assert a.pack_id.tolist() == [0, 0, 0, 1]
    # shard b start offsets: 0,30,94,158 -> packs 0,0,0,1 (the 158
    # crossing proves the running sum RESTARTED at the shard boundary:
    # globally it would be 138+158=296 -> pack 2)
    assert b.pack_id.tolist() == [0, 0, 0, 1]
    glob = pack_chunks(chunks, budget=128).toPandas()
    gb = glob[glob.doc_id == 6]
    assert gb.pack_id.tolist() == [2]


def test_q59_pii_is_pure_projection(spark):
    """PII scrub must be a single scan+project: zero exchanges, zero
    Python, zero joins — the whole scrub rides the scan stage."""
    plan = plan_of(spark, "q59_pii_scrub")
    n = nodes(plan)
    assert n.count("Exchange") == 0
    assert not any("Join" in x for x in n)
    assert "BatchEvalPython" not in plan


def test_q61_shard_assign_single_shuffle(spark):
    """Exact shard positions cost exactly ONE exchange (the per-shard
    ranking window); the lane/shard stamp itself is row-local."""
    plan = plan_of(spark, "q61_shard_assign")
    n = nodes(plan)
    assert n.count("Exchange") == 1
    assert n.count("Window") == 1


def test_q58_decontaminate_broadcasts_eval_side(spark):
    """The eval gram universe and the hit-count frame must BROADCAST;
    the corpus must never enter a sort-merge join."""
    plan = plan_of(spark, "q58_decontaminate")
    n = nodes(plan)
    assert n.count("SortMergeJoin") == 0
    assert n.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_q62_line_dedup_hot_set_broadcasts(spark):
    """The boilerplate vocabulary (hot-line set) anti-join and the
    rebuilt-text join must broadcast — line strings never shuffle for
    the anti-join, only 8-byte hashes do."""
    plan = plan_of(spark, "q62_line_dedup")
    n = nodes(plan)
    assert n.count("SortMergeJoin") == 0
    assert n.count("BroadcastHashJoin") >= 2


def test_bm25_batch_no_cartesian(spark):
    """Batch retrieval must never cross query x doc: the only join
    paths are term-keyed (broadcast query terms) plus the single-row
    stats broadcast — no CartesianProduct in the plan."""
    from pyspark.sql import Row

    from opencosmo_spark.pipeline.search import bm25_batch

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta w{i}") for i in range(20)]
    )
    qs = spark.createDataFrame(
        [Row(query_id=1, term="alpha"), Row(query_id=2, term="beta")]
    )
    plan = bm25_batch(docs, qs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_sky_pairs_no_cartesian(spark):
    """All-pairs-within-radius must run as a bin equi-join, never a
    cross product — at survey scale a cartesian is game over."""
    from pyspark.sql import Row

    from opencosmo_spark.spatial.crossmatch import sky_pairs

    df = spark.createDataFrame(
        [Row(id=i, ra=float(i * 3 % 360), dec=float((i * 7 % 120) - 60))
         for i in range(40)]
    )
    for right in (None, df.withColumnRenamed("id", "id")):
        plan = (
            sky_pairs(df, right, 2.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_cross_pairs_3d_no_cartesian(spark):
    from pyspark.sql import Row

    from opencosmo_spark.spatial.pairs import cross_pairs_3d

    pts = spark.createDataFrame(
        [Row(id=i, x=float(i % 10), y=float(i % 7), z=float(i % 5))
         for i in range(30)]
    )
    plan = (
        cross_pairs_3d(pts, pts, 1.0, 10.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_importance_sample_final_filter_is_pushable(spark):
    """After the driver-side bisection, the returned frame must be a
    pure scan+filter — no shuffle, no Python eval."""
    from pyspark.sql import Row

    from opencosmo_spark.pipeline.sample import importance_sample

    df = spark.createDataFrame(
        [Row(doc_id=i, w=float(1 + i % 3)) for i in range(50)]
    )
    plan = (
        importance_sample(df, "w", 0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_perplexity_score_joins_are_hash_keyed(spark):
    """Model joins must be equi-joins on the hash keys (broadcast or
    shuffled-hash under AQE) — never nested-loop — and the scoring
    expression stays JVM-side."""
    from pyspark.sql import Row

    from opencosmo_spark.pipeline.lm import perplexity_score, train_bigram_lm

    train = spark.createDataFrame(
        [Row(doc_id=i, text="a b c d e f g a b") for i in range(5)]
    )
    model = train_bigram_lm(train)
    plan = (
        perplexity_score(train, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q66_pair_counts_no_cartesian(spark):
    """The pair-engine driver row must plan as cell-keyed equi-joins —
    a cartesian here would mean the parity row certifies the wrong
    machinery."""
    plan = plan_of(spark, "q66_pair_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neighbor_pairs_shuffle_budget(spark):
    """After the round-6 dedup removal the pair join costs exactly the
    join's own exchanges — a reintroduced pair-level aggregate or
    dropDuplicates would add an Exchange keyed by (a, b) and fail
    this count."""
    from pyspark.sql import Row

    from opencosmo_spark.spatial.pairs import neighbor_pairs_3d

    pts = spark.createDataFrame(
        [Row(id=i, x=float(i % 10), y=float(i % 7), z=float(i % 5))
         for i in range(50)]
    )
    plan = (
        neighbor_pairs_3d(pts, 1.0, 10.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one exchange per join side at most (AQE may broadcast one away)
    assert plan.count("Exchange") <= 2, plan.count("Exchange")
    assert "dropDuplicates" not in plan


def test_quality_classifier_score_plan_shape(spark):
    """Scoring under a trained model must be a broadcast equi-join on
    the feature hash (no cartesian, no nested loop) with zero Python
    evaluation — the arithmetic is one JVM expression chain."""
    from pyspark.sql import Row

    from opencosmo_spark.pipeline.classify import (
        quality_classifier_score,
        train_quality_classifier,
    )

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma tok{i}", label=i % 2)
         for i in range(20)]
    )
    model = train_quality_classifier(df, num_features=128, iters=2)
    plan = (
        quality_classifier_score(df, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def _explain(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_url_filter_list_path_is_pure_scan_filter(spark):
    """A literal blocklist must stay a scan-side filter: zero
    exchanges, zero joins, no Python evaluation."""
    from opencosmo_spark.pipeline.web import url_filter

    df = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "concat('https://', source, '.com/p/', doc_id) AS url"
    )
    plan = _explain(
        url_filter(
            df,
            block_domains=["src3.com", "bad.org"],
            block_patterns=[r"casino"],
        )
    )
    n = nodes(plan)
    assert "Exchange" not in n
    assert not any("Join" in x for x in n)
    assert count_in(plan, "PythonUDF") == 0


def test_url_filter_df_blocklist_broadcasts(spark):
    """The UT1-scale path: the blocklist side must broadcast — the
    corpus never shuffles for the domain join, only the 8-byte-id
    distinct + anti-join."""
    from opencosmo_spark.pipeline.web import url_filter

    df = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "doc_id", "concat('https://', source, '.com/p/', doc_id) AS url"
    )
    blk = spark.createDataFrame([("src3.com",), ("bad.org",)], ["domain"])
    plan = _explain(
        url_filter(df, block_domains=blk, id_col="doc_id")
    )
    assert count_in(plan, "BroadcastHashJoin") >= 1
    assert count_in(plan, "CartesianProduct") == 0


def test_host_edges_single_aggregation_shuffle(spark):
    """Link extraction + host parsing fuse into the scan; the only
    exchange is the (src, dst) count aggregation."""
    from opencosmo_spark.pipeline.graph import host_edges

    df = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "concat('https://', source, '.com/') AS url",
        "concat('<a href=\"https://x.org/', doc_id, '\">l</a>') AS text",
    )
    plan = _explain(host_edges(df))
    n = nodes(plan)
    assert n.count("Exchange") == 1
    assert count_in(plan, "PythonUDF") == 0


def test_dsir_scoring_broadcasts_models(spark):
    """The DSIR score plan must join the (<=n_buckets)-row model
    tables by broadcast — the corpus side shuffles only for the
    per-doc aggregation — and contain no cartesian product."""
    from opencosmo_spark.pipeline.dsir import (
        _score_frame,
        train_dsir_model,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tm = train_dsir_model(docs.limit(50), n_buckets=256)
    rm = train_dsir_model(docs, n_buckets=256)
    plan = _explain(_score_frame(docs, tm, rm, "text", "doc_id"))
    assert count_in(plan, "CartesianProduct") == 0
    assert count_in(plan, "BroadcastHashJoin") >= 2


def test_density_mesh_single_aggregation_no_python(spark):
    """Mass assignment must be one JVM explode + one groupBy(cell)
    exchange — no Python evaluation, no joins."""
    from opencosmo_spark.spatial.power import density_mesh

    df = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "cast(user_id as double) as x",
        "cast(value as double) as y",
        "cast(event_id as double) as z",
    )
    for scheme in ("ngp", "cic"):
        plan = _explain(density_mesh(df, 16, 1000.0, scheme=scheme))
        n = nodes(plan)
        assert n.count("Exchange") == 1, scheme
        assert not any("Join" in x for x in n), scheme
        assert count_in(plan, "PythonUDF") == 0, scheme


def test_overlap_sketch_grams_never_join(spark):
    """corpus_overlap_sketch: each corpus reduces to ONE theta-sketch
    row before the only join in the plan — a 1-row x 1-row broadcast
    nested loop. No gram row reaches a join, no exchange is keyed by
    gram hash (contrast: the exact corpus_overlap pays three)."""
    from opencosmo_spark.pipeline.decontaminate import (
        _overlap_sketch_frame,
    )

    docs = spark.read.parquet(SF + "/documents.parquet")
    a = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    b = docs.filter("doc_id % 2 = 1").select("doc_id", "text")
    frame = _overlap_sketch_frame(
        a, b, 8, "text", "doc_id", None, None, 14
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = frame._jdf.queryExecution().explainString(mode)
    ns = nodes(plan)
    joins = [n for n in ns if "Join" in n]
    assert joins == ["BroadcastNestedLoopJoin"], joins
    # both sides hit the join as completed aggregates (sketch rows):
    # the join's children chain through HashAggregate, and the only
    # exchanges are the two single-partition sketch merges
    assert not [
        n for n in ns if n == "SortMergeJoin" or n == "ShuffledHashJoin"
    ]
    assert "theta_sketch_agg" in plan


def test_block_pack_ids_sharded_plan_and_no_cartesian(spark):
    """block_pack_ids(shard_col=...) plans hash-partitioned window +
    one grouping shuffle — never the single-reducer global sort, no
    join of any kind (the per-token-row anti-design would also show
    up as explosive row counts; the piece design has exactly one
    Generate)."""
    from pyspark.sql import functions as F

    from opencosmo_spark.pipeline.text import block_pack_ids

    df = spark.range(64).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("int").alias("shard"),
        F.sequence(F.lit(1), (F.col("id") % 37 + 1).cast("int")).alias(
            "input_ids"
        ),
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    sharded = block_pack_ids(df, 32, shard_col="shard")
    plan = sharded._jdf.queryExecution().explainString(mode)
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert nodes(plan).count("Generate") == 1  # one explode: docs -> pieces

    global_plan = (
        block_pack_ids(df, 32)._jdf.queryExecution().explainString(mode)
    )
    assert "SinglePartition" in global_plan  # the documented trade


def test_render_preference_pairs_is_pure_projection(spark):
    """Three renders per row must stay a single scan+project: zero
    exchanges, zero joins, zero python UDFs — the row-parallel shape
    the 100 TB claim rests on."""
    from opencosmo_spark.pipeline.preference import (
        filter_preference_pairs,
        render_preference_pairs,
    )

    df = spark.createDataFrame(
        [(0, [("user", "q")], [("assistant", "a")], [("assistant", "b")])],
        "pair_id long,"
        " prompt array<struct<role:string,content:string>>,"
        " chosen array<struct<role:string,content:string>>,"
        " rejected array<struct<role:string,content:string>>",
    )
    out = filter_preference_pairs(
        render_preference_pairs(df), min_completion_chars=0,
        drop_identical=False,
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_take_range_distributed_no_single_partition(spark, monkeypatch):
    """Past the head threshold, positional take must rank via
    per-bucket windows + broadcast offsets — never a SinglePartition
    exchange (the round-13 verdict's one-task-at-50M caveat)."""
    import pyspark.sql.functions as F

    import opencosmo_spark.dataset as dmod
    from opencosmo_spark.dataset import Dataset

    monkeypatch.setattr(dmod, "_POSITIONAL_HEAD_MAX", 0)
    df = spark.range(0, 5000).withColumn(
        "v", (F.col("id") * 13) % 4999
    ).repartition(11)
    ds = Dataset(df).sort_by("id")
    out = ds.take_range(1000, 1300).spark_df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert sorted(r.id for r in out.collect()) == list(
        range(1000, 1300)
    )
    rows = ds.take_rows([0, 4999, 2500]).spark_df
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert sorted(r.id for r in rows.collect()) == [0, 2500, 4999]


def test_take_range_distributed_bucket_prune(spark, monkeypatch):
    """The rank interval/position list must prune non-covering value
    buckets BEFORE the ranking exchange (bucket coverage is
    driver-known from the offsets), with ranks unchanged: a page read
    at 100 TB shuffles the covering buckets, not the corpus."""
    import pyspark.sql.functions as F

    import opencosmo_spark.dataset as dmod
    from opencosmo_spark.dataset import Dataset

    monkeypatch.setattr(dmod, "_POSITIONAL_HEAD_MAX", 0)
    df = spark.range(0, 5000).withColumn(
        "v", (F.col("id") * 13) % 4999
    ).repartition(11)
    ds = Dataset(df).sort_by("id")

    out = ds.take_range(1000, 1300).spark_df
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the pre-exchange prune shows up as a filter on the bucket column
    assert "__bucket" in plan.split("Exchange", 1)[-1]
    assert sorted(r.id for r in out.collect()) == list(range(1000, 1300))

    # position list: only buckets containing a requested rank survive
    rows = ds.take_rows([0, 4999]).spark_df
    assert sorted(r.id for r in rows.collect()) == [0, 4999]

    # full range -> no prune, identical result
    allr = ds.take_range(0, 5000).spark_df
    assert allr.count() == 5000

    # out-of-table range -> empty, not an error
    assert ds.take_range(100_000, 100_100).spark_df.count() == 0


def test_spread_small_input_keyed(spark):
    """Keyed spread must hash-partition (no sort-before-repartition
    pass) and stay a no-op on already-parallel input; row multiset is
    unchanged either way."""
    import pyspark.sql.functions as F

    from opencosmo_spark._parallel import spread_small_input

    small = spark.range(0, 1000, 1, 1).withColumn("k", F.col("id") * 3)
    out = spread_small_input(small, key=F.col("k"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan
    assert "roundrobin" not in plan.lower()
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(1000))

    wide = spark.range(0, 1000, 1, 64).withColumn("k", F.col("id"))
    assert spread_small_input(wide, key=F.col("k")) is wide


def _lambda_bodies(plan: str) -> list[str]:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    out = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth = 0
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        out.append(plan[start:end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return out


def test_text_builders_tokenize_once(spark):
    """Each text builder splits (or URL-parses) a row once: the split
    is bound (``_litarr.sql_let``) or projected as a hidden column,
    never pasted into a lambda body, where Spark re-evaluates it per
    array element. Optimized-plan counts at the previous form:
    text_profile 15, repetition_stats 12, gopher_repetition_flags 44,
    gopher_quality_flags 11 splits, url_suffixes 3 URL parses."""
    import pyspark.sql.functions as F

    from opencosmo_spark.pipeline.clean import (
        _dup_gram_mass_sql,
        _top_gram_mass_sql,
        _word_grams_sql,
        gopher_quality_flags,
        gopher_repetition_flags,
    )
    from opencosmo_spark.pipeline.text import (
        quality_score,
        repetition_stats,
        token_count,
    )
    from opencosmo_spark.pipeline.web import url_suffixes

    df = spark.createDataFrame(
        [(1, "a b a", "http://a.b.c/x")], "doc_id long, text string, url string"
    )
    stats = [c.alias(n) for n, c in repetition_stats("text").items()]
    # q30's entry glue passes a raw split expression to the gram helpers
    raw = "filter(split(trim(text), '\\\\s+'), w -> w != '')"
    frames = {
        # the benchmark's text_profile op
        "text_profile": (df.select(
            "doc_id",
            token_count("text").alias("n_tok"),
            quality_score("text").alias("quality"),
            *stats,
        ), 6),
        "repetition_stats": (df.select("doc_id", *stats), 4),
        "gopher_repetition_flags": (gopher_repetition_flags(df), 3),
        "gopher_quality_flags": (gopher_quality_flags(df), 2),
        "q30_gram_glue": (df.select(
            F.expr(_top_gram_mass_sql(_word_grams_sql(raw, 2))).alias("t2"),
            F.expr(_dup_gram_mass_sql(_word_grams_sql(raw, 5))).alias("d5"),
        ), 2),
        "url_suffixes": (df.select(url_suffixes("url").alias("s")), 1),
    }
    for name, (out, max_splits) in frames.items():
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("split(") <= max_splits, (name, plan.count("split("))
        for body in _lambda_bodies(plan):
            for tok in ("split(", "regexp_extract_all(", "ParseUrlEvaluator("):
                assert tok not in body, (name, tok, body[:300])
        if name == "url_suffixes":
            assert plan.count("ParseUrlEvaluator(") == 1, plan


def test_spread_probe_walks_plan_nodes(spark):
    """The spread probe reads a partition count only off a narrow
    chain (no Exchange, no subquery, no child-distribution need) and
    starts no job doing it; every other shape probes as None."""
    import pyspark.sql.functions as F

    from opencosmo_spark._parallel import _input_partitions

    base = spark.range(0, 100, 1, 1).withColumn("k", F.col("id") % 7)
    base.createOrReplaceTempView("probe_base")
    sc = spark.sparkContext
    sc.setJobGroup("spread-probe", "spread probe")
    try:
        assert _input_partitions(base.filter("k > 2").select("id")) == 1
        assert _input_partitions(spark.range(0, 100, 1, 3).filter("id > 2")) == 3
        for shape in (
            base.repartition(3),
            base.groupBy("k").count(),
            base.join(base.select("id"), "id"),
            base.orderBy("k"),
            spark.sql(
                "SELECT * FROM probe_base"
                " WHERE id > (SELECT avg(id) FROM probe_base)"
            ),
        ):
            assert _input_partitions(shape) is None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("spread-probe")) == []
