"""Round-5 pipeline operators: decontamination, PII scrub, shard
assignment, semantic dedup."""

import pytest
from pyspark.sql import Row, functions as F

from opencosmo_spark.pipeline import (
    assign_shards,
    decontaminate,
    ngram_overlap,
    pii_counts,
    redact_pii,
    scrub_pii,
    semantic_dedup,
    semantic_dedup_survivors,
    write_sharded,
)


# ---------------------------------------------------------------- decontam
def test_ngram_overlap_counts(spark):
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps high"),
            Row(doc_id=2, text="a totally different sentence here now"),
            Row(doc_id=3, text="quick brown fox"),
        ]
    )
    ev = spark.createDataFrame([Row(doc_id=0, text="see the quick brown fox run")])
    ov = {r["doc_id"]: r for r in ngram_overlap(corpus, ev, k=3).collect()}
    # doc 1 grams: {the quick brown, quick brown fox, brown fox jumps,
    # fox jumps high}; eval has the first two -> 2/4
    assert ov[1]["n_grams"] == 4 and ov[1]["n_hit"] == 2
    assert ov[1]["frac"] == pytest.approx(0.5)
    assert ov[2]["n_hit"] == 0 and ov[2]["frac"] == 0.0
    # doc 3 is a single full window "quick brown fox", present in eval
    assert ov[3]["n_grams"] == 1 and ov[3]["n_hit"] == 1


def test_decontaminate_drops_overlapping(spark):
    corpus = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps high"),
            Row(doc_id=2, text="a totally different sentence here now"),
        ]
    )
    ev = spark.createDataFrame([Row(doc_id=0, text="the quick brown fox")])
    kept = decontaminate(corpus, ev, k=3).collect()
    assert [r["doc_id"] for r in kept] == [2]
    # max_frac loosens the cut
    kept2 = decontaminate(corpus, ev, k=3, max_frac=0.9).count()
    assert kept2 == 2


def test_short_doc_partial_window_consistency(spark):
    # docs shorter than k words form ONE partial window; two docs with
    # the same short text must match, different short texts must not
    corpus = spark.createDataFrame(
        [Row(doc_id=1, text="tiny doc"), Row(doc_id=2, text="other words")]
    )
    ev = spark.createDataFrame([Row(doc_id=0, text="tiny doc")])
    ov = {r["doc_id"]: r["n_hit"] for r in ngram_overlap(corpus, ev, k=5).collect()}
    assert ov == {1: 1, 2: 0}


# --------------------------------------------------------------------- pii
def test_pii_redaction_families(spark):
    df = spark.createDataFrame(
        [
            Row(
                id=1,
                text=(
                    "mail bob.smith+x@corp.example.org from 192.168.0.1 "
                    "ssn 123-45-6789 call 555-123-4567 end"
                ),
            )
        ]
    )
    out = scrub_pii(df, keep_original=True).collect()[0]
    assert out["n_email"] == 1 and out["n_ip"] == 1
    assert out["n_ssn"] == 1 and out["n_phone"] == 1
    assert (
        out["text"]
        == "mail <EMAIL> from <IP> ssn <SSN> call <PHONE> end"
    )
    assert "bob.smith" in out["text_raw"]


def test_pii_no_cross_family_double_count(spark):
    # an SSN must not also be counted/redacted as a phone number, and
    # digits inside an email must not leak into later families
    df = spark.createDataFrame(
        [Row(id=1, text="a 111-22-3333 b 123-456-7890 c 9.9.9.9@10.0.0.1 d")]
    )
    out = scrub_pii(df).collect()[0]
    assert out["n_ssn"] == 1 and out["n_phone"] == 1
    # 9.9.9.9@10.0.0.1 is NOT an email (TLD must be alphabetic) —
    # both sides are bare IPs
    assert out["n_email"] == 0 and out["n_ip"] == 2
    assert out["text"] == "a <SSN> b <PHONE> c <IP>@<IP> d"


def test_pii_counts_expression_form(spark):
    df = spark.createDataFrame([Row(t="x@y.io and z@w.ai")])
    row = df.select(*(v.alias(k) for k, v in pii_counts("t").items())).collect()[0]
    assert row["n_email"] == 2 and row["n_ip"] == 0
    red = df.select(redact_pii("t").alias("r")).collect()[0]["r"]
    assert red == "<EMAIL> and <EMAIL>"


# ------------------------------------------------------------------- shard
def test_assign_shards_dense_positions(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    sh = assign_shards(df, 8, "doc_id").cache()
    assert sh.count() == 500
    # every shard's positions are exactly 0..n-1
    per = sh.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("shard_pos").alias("lo"),
        F.max("shard_pos").alias("hi"),
    )
    for r in per.collect():
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1
    # deterministic: identical on recompute
    again = assign_shards(df, 8, "doc_id")
    assert (
        sh.select("doc_id", "shard", "shard_pos")
        .exceptAll(again.select("doc_id", "shard", "shard_pos"))
        .count()
        == 0
    )
    # seed changes the permutation
    seeded = assign_shards(df, 8, "doc_id", seed="v2")
    diff = (
        sh.select("doc_id", "shard")
        .exceptAll(seeded.select("doc_id", "shard"))
        .count()
    )
    assert diff > 0


def test_write_sharded_matches_assign_order(spark, tmp_path):
    df = spark.range(0, 300).withColumnRenamed("id", "doc_id").withColumn(
        "payload", F.col("doc_id") * 3
    )
    path = str(tmp_path / "sharded")
    write_sharded(df, path, 4, "doc_id")
    back = spark.read.parquet(path)
    assert back.count() == 300
    # file order within each shard == assign_shards' shard_pos order
    expect = assign_shards(df, 4, "doc_id")
    for s in range(4):
        got = [
            r["doc_id"]
            for r in back.filter(F.col("shard") == s).collect()
        ]
        want = [
            r["doc_id"]
            for r in expect.filter(F.col("shard") == s)
            .orderBy("shard_pos")
            .collect()
        ]
        assert got == want


# ---------------------------------------------------------------- semdedup
def _emb_df(spark):
    import math

    rows = []
    # 10 well-separated base directions in 4d + exact/near duplicates
    base = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
    ]
    for i, v in enumerate(base):
        rows.append(Row(vec_id=i, embedding=v))
    # 4 = dup of 0 (identical), 5 = near-dup of 1, 6 = isolated
    rows.append(Row(vec_id=4, embedding=[1.0, 0.0, 0.0, 0.0]))
    n = math.sqrt(1 + 0.01**2)
    rows.append(Row(vec_id=5, embedding=[0.01 / n, 1.0 / n, 0.0, 0.0]))
    rows.append(Row(vec_id=6, embedding=[0.5, -0.5, 0.5, -0.5]))
    return spark.createDataFrame(rows)


def test_semantic_dedup_marks_duplicates(spark):
    df = _emb_df(spark)
    marks = {
        r["vec_id"]: r["dup_of"]
        for r in semantic_dedup(df, threshold=0.99, nlist=4).collect()
    }
    assert marks[4] == 0  # identical copy -> dup of the earlier id
    assert marks[5] == 1  # near-dup above threshold
    assert marks[0] is None and marks[1] is None and marks[6] is None
    surv = sorted(
        r["vec_id"]
        for r in semantic_dedup_survivors(df, threshold=0.99, nlist=4).collect()
    )
    assert surv == [0, 1, 2, 3, 6]


def test_semantic_dedup_one_hop_not_transitive(spark):
    # a~b and b~c above threshold, a~c below: c is marked via b even
    # though b itself is marked (one-hop rule, documented)
    import math

    def unit(x, y):
        n = math.sqrt(x * x + y * y)
        return [x / n, y / n, 0.0, 0.0]

    rows = [
        Row(vec_id=0, embedding=unit(1.0, 0.0)),
        Row(vec_id=1, embedding=unit(1.0, 0.2)),
        Row(vec_id=2, embedding=unit(1.0, 0.4)),
    ]
    df = spark.createDataFrame(rows)
    marks = {
        r["vec_id"]: r["dup_of"]
        for r in semantic_dedup(df, threshold=0.97, nlist=1).collect()
    }
    assert marks[0] is None
    assert marks[1] == 0
    assert marks[2] == 1  # one-hop: nearest earlier match, not closure


def test_semantic_dedup_respects_existing_cells(spark):
    # pre-assigned cell column short-circuits assignment (ingest path)
    df = _emb_df(spark).withColumn("__ivf_cell", F.col("vec_id") % 2)
    marks = {
        r["vec_id"]: r["dup_of"]
        for r in semantic_dedup(df, threshold=0.99, nlist=4).collect()
    }
    # 0 and 4 share cell 0 -> still caught; 1 and 5 are in different
    # cells (1 vs 5%2=1 ... both odd -> same cell 1) -> caught too
    assert marks[4] == 0 and marks[5] == 1


def test_pii_patterns_cross_engine_parity(spark):
    """The RE2-portability contract, checked empirically: Spark's Java
    regex and DuckDB's RE2 must agree on counts AND redacted text for
    a corpus of adversarial strings (boundary digits, dots, multiple
    matches, near-misses). One batched comparison, not per-example
    round-trips."""
    import random

    import duckdb

    from opencosmo_spark.pipeline import scrub_pii
    from opencosmo_spark.pipeline.pii import PII_PATTERNS

    # deterministic adversarial corpus over the characters the
    # patterns care about (one Spark job for the whole batch)
    rng = random.Random(7)
    alphabet = "abz09.@-+ _%15"
    samples = [
        "a@b.co",
        "a@b.c",  # 1-char TLD: not an email
        "1.2.3.4",
        "1.2.3.4.5",  # five octets: first four match, \b decides
        "999.999.999.999",
        "123-45-6789",
        "123-456-7890",
        "123-45-67890",  # 5-digit tail: ssn \b fails, phone?
        "+1 555-123-4567",
        "x123-45-6789y",  # no word boundary -> no SSN
        "a.b@c.d.ee f 0.0.0.0 g 111-22-3333",
        "..@..",
        "@",
        "1-2-3",
    ]
    for _ in range(300):
        n = rng.randint(0, 40)
        samples.append("".join(rng.choice(alphabet) for _ in range(n)))
    rows = [(i, s) for i, s in enumerate(samples)]

    out = scrub_pii(
        spark.createDataFrame(rows, ["id", "text"])
    ).toPandas().sort_values("id").reset_index(drop=True)

    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["id", "text"]))
    sql = "SELECT id, text FROM t"
    carried = []
    for j, (name, pat, repl) in enumerate(PII_PATTERNS):
        p = pat.replace("'", "''")
        cols = (", ".join(carried) + ", ") if carried else ""
        sql = (
            f"SELECT id, {cols}"
            f"CAST(len(regexp_extract_all(text, '{p}')) AS INTEGER) AS n_{name}, "
            f"regexp_replace(text, '{p}', '{repl}', 'g') AS text "
            f"FROM ({sql})"
        )
        carried.append(f"n_{name}")
    duck = con.sql(sql).df().sort_values("id").reset_index(drop=True)

    for col in ["n_email", "n_ip", "n_ssn", "n_phone", "text"]:
        mism = out[col].astype(str) != duck[col].astype(str)
        assert not mism.any(), (
            f"{col} diverges on: "
            + repr(out.loc[mism, ["id", col]].head().values.tolist())
            + " vs "
            + repr(duck.loc[mism, [col]].head().values.tolist())
            + " input: "
            + repr([samples[i] for i in out.loc[mism, "id"].head()])
        )


def test_null_and_empty_text_robustness(spark):
    """Real corpora contain nulls: null-text docs must SURVIVE
    decontamination (nothing to overlap — a keep-side semi-join would
    silently drop them), pass through scrub_pii as null, and become
    '' under line_dedup."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from opencosmo_spark.pipeline import line_dedup

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    d = spark.createDataFrame(
        [(1, "hello world foo"), (2, None), (3, ""), (4, "x")], schema
    )
    ev = spark.createDataFrame([(0, "hello world foo bar")], schema)

    kept = sorted(r["doc_id"] for r in decontaminate(d, ev, k=2).collect())
    assert kept == [2, 3, 4]  # doc 1 contaminated; null doc 2 SURVIVES

    out = {r["doc_id"]: r for r in scrub_pii(d).collect()}
    assert out[2]["text"] is None and out[2]["n_email"] is None
    assert out[3]["n_email"] == 0

    ld = {r["doc_id"]: r["text"] for r in line_dedup(d, sep=" ", min_dup=2).collect()}
    assert ld[2] == ""  # null normalizes to the emptied-doc contract


def test_semantic_overlap_flags_nearest_eval(spark):
    """Cross-corpus embedding decontamination: each corpus vector with
    a same-cell eval neighbor at sim >= t reports its NEAREST one;
    clean vectors are absent."""
    import math

    from opencosmo_spark.pipeline import semantic_overlap

    def unit(x, y):
        n = math.sqrt(x * x + y * y)
        return [x / n, y / n, 0.0, 0.0]

    corpus = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[0.0, 1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=unit(1.0, 0.05)),  # near eval 100
            Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0]),  # clean
        ]
    )
    ev = spark.createDataFrame(
        [
            Row(vec_id=100, embedding=unit(1.0, 0.04)),
            Row(vec_id=101, embedding=unit(1.0, 0.24)),
        ]
    )
    out = {
        r["vec_id"]: r
        for r in semantic_overlap(corpus, ev, threshold=0.97, nlist=2).collect()
    }
    assert set(out) == {0, 2}  # 0 and 2 point near eval; 1, 3 clean
    assert out[2]["eval_id"] == 100  # the NEAREST eval doc wins
    assert out[2]["sim"] > 0.99


def test_curate_corpus_end_to_end(spark):
    """The full recipe on a corpus with every defect class: low
    quality, PII, exact dups, near-dups, and benchmark contamination.
    Each stage must drop exactly the rows it owns."""
    from opencosmo_spark.pipeline import curate_corpus

    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays a slow waltz in the warm evening light of september"
    )
    near = base.replace("september", "october")
    contaminated = (
        "completely separate benchmark style passage about measuring "
        "model capability with held out evaluation questions here"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, near),  # near dup of 0
        (3, "junk!!"),  # fails quality/min_tokens
        (4, "mail me at a@b.io " + base.replace("fox", "cat")),  # PII, kept
        (5, contaminated),
        (6, "an entirely different clean document about gardening "
            "techniques for growing tomatoes in cold climates"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(100, "held out evaluation questions here")], ["doc_id", "text"]
    )

    out, counts = curate_corpus(
        df,
        eval_df=ev,
        min_quality=0.1,
        min_tokens=5,
        jaccard_threshold=0.5,
        decontam_k=4,
        n_shards=2,
    )
    got = {r["doc_id"]: r for r in out.collect()}
    # 0 survives (canonical of {0,1,2}), 4 survives redacted, 6 clean
    assert set(got) == {0, 4, 6}
    assert "<EMAIL>" in got[4]["text"] and "a@b.io" not in got[4]["text"]
    assert {got[d]["shard"] for d in got} <= {0, 1}
    assert counts["input"] == 7
    assert counts["quality_gate"] == 6     # -junk
    assert counts["exact_dedup"] == 5      # -exact dup 1
    assert counts["near_dedup"] == 4       # -near dup 2
    assert counts["decontaminate"] == 3    # -contaminated 5

    # report=False keeps it lazy and returns no counts
    out2, counts2 = curate_corpus(df, report=False)
    assert counts2 == {}
    assert out2.count() > 0


def test_curate_corpus_span_gate_and_temperature_mix(spark):
    """The optional round-5 stages: span-duplication gate drops the
    boilerplate-heavy doc; temperature mix derives rates from the
    surviving language counts."""
    from pyspark.sql import Row

    from opencosmo_spark.pipeline import curate_corpus

    span_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        # 30 clean majority-language docs with unique tails
        Row(
            doc_id=i,
            text=f"perfectly clean document number {i} with plenty of "
            f"unique words appended tail{i} tail{i + 1} tail{i + 2}",
            lang="en",
        )
        for i in range(30)
    ] + [
        # 10 minority-language docs
        Row(
            doc_id=100 + i,
            text=f"kleines sauberes dokument nummer {i} mit vielen "
            f"eindeutigen worten ende{i} ende{i + 1} ende{i + 2}",
            lang="de",
        )
        for i in range(10)
    ] + [
        # one doc that is ENTIRELY a span shared with doc 201 ->
        # dup_frac 1.0 in both; both must die at the span gate
        Row(doc_id=200, text=span_text + " unique200suffix word word", lang="en"),
        Row(doc_id=201, text=span_text + " unique201suffix word word", lang="en"),
    ]
    df = spark.createDataFrame(rows)
    out, counts = curate_corpus(
        df,
        min_quality=0.0,
        min_tokens=1,
        jaccard_threshold=0.95,
        max_dup_span_frac=0.2,
        dup_span=8,
        mix_col="lang",
        mix_alpha=0.5,
        mix_target_frac=0.6,
        report=True,
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert 200 not in ids and 201 not in ids
    assert counts["span_gate"] == counts["near_dedup"] - 2
    assert counts["mix"] == len(ids) > 0
    # temperature upweights the minority language relative to share
    n_en = sum(1 for i in ids if i < 100)
    n_de = sum(1 for i in ids if 100 <= i < 200)
    assert n_de / 10 > n_en / 30


def test_pseudonymize_stable_joinable_and_irreversible(spark):
    from pyspark.sql import Row

    from opencosmo_spark.pipeline.pii import pseudonymize

    ev = spark.createDataFrame(
        [Row(user_id=7, v=1.0), Row(user_id=8, v=2.0), Row(user_id=None, v=3.0)],
        "user_id LONG, v DOUBLE",
    )
    orders = spark.createDataFrame(
        [Row(user_id=7, amt=10.0), Row(user_id=9, amt=20.0)]
    )
    pe = pseudonymize(ev, ["user_id"], salt="s1")
    po = pseudonymize(orders, ["user_id"], salt="s1")
    # same salt -> joins still line up on the pseudonym
    joined = pe.join(po, "user_id")
    assert joined.count() == 1 and joined.first()["amt"] == 10.0
    # values are replaced, not passthrough; NULL stays NULL
    vals = {r["v"]: r["user_id"] for r in pe.collect()}
    assert vals[1.0] not in (7, 8) and vals[3.0] is None
    # a different salt breaks linkage
    po2 = pseudonymize(orders, ["user_id"], salt="s2")
    assert pe.join(po2, "user_id").count() == 0
    # deterministic across invocations
    again = {r["v"]: r["user_id"] for r in pseudonymize(ev, ["user_id"], "s1").collect()}
    assert again == vals
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pseudonymize(ev, ["user_id"], salt="")


def test_curate_corpus_gopher_c4_importance_stages(spark):
    """The round-6 optional stages compose: Gopher gate drops the
    rule-violating doc, C4 line cleaning rewrites text BEFORE dedup
    (so fingerprints see cleaned lines), importance mixing keeps a
    quality-weighted subset, and the output schema is unchanged."""
    from opencosmo_spark.pipeline import curate_corpus

    good = (
        "The quick brown fox jumps over the lazy dog while the band "
        "plays a slow waltz in the warm evening light of september. "
    ) * 4
    hashy = " ".join(["tok##" for _ in range(80)])  # fails gopher symbols
    webby = "\n".join(
        [
            good.strip(),
            "Please enable javascript to continue browsing now.",
            "We use cookie banners to track you everywhere online.",
        ]
    )
    rows = [(0, good), (1, hashy), (2, webby), (3, good + " extra")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    out, counts = curate_corpus(
        df,
        min_quality=0.0,
        min_tokens=1,
        gopher={"min_words": 10, "min_stopword_hits": 1},
        c4_lines=True,
        jaccard_threshold=0.95,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert counts["gopher_gate"] == 3          # -hashy
    assert 1 not in got
    # C4 scrubbed the boilerplate lines from doc 2 before dedup
    assert all("javascript" not in t.lower() for t in got.values())
    assert all("cookie" not in t.lower() for t in got.values())
    assert set(out.columns) >= {"doc_id", "text"}
    assert "keep" not in out.columns and "c4_text" not in out.columns

    # importance mixing path + mutual exclusion
    wdf = df.withColumn("w", F.col("doc_id").cast("double") + 1.0)
    out2, c2 = curate_corpus(
        wdf, min_quality=0.0, min_tokens=1,
        importance_col="w", mix_target_frac=0.5,
    )
    assert "mix" in c2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="exactly ONE"):
        curate_corpus(
            wdf, mix_alpha=0.7, mix_col="text", importance_col="w"
        )


def test_curate_corpus_span_removal_mode(spark):
    """remove_dup_spans excises shared boilerplate instead of
    dropping documents; rows survive with cleaned text."""
    from opencosmo_spark.pipeline import curate_corpus

    boiler = ("subscribe to our newsletter for daily updates and "
              "exclusive offers every single morning")
    rows = [
        (0, "the tomato plants need deep watering twice weekly in summer " + boiler),
        (1, boiler + " quantum error correction protects qubit states from noise"),
        (2, "an entirely unrelated document about alpine hiking trails and lakes"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out, counts = curate_corpus(
        df, min_quality=0.0, min_tokens=1,
        jaccard_threshold=0.99, remove_dup_spans=True,
    )
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(got) == {0, 1, 2}          # nothing dropped
    assert counts["span_removal"] == 3
    assert all("newsletter" not in t for t in got.values())
    assert "tomato" in got[0] and "quantum" in got[1]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        curate_corpus(df, max_dup_span_frac=0.5, remove_dup_spans=True)


def _dup_corpus(spark):
    base = [
        f"record {i} describes subject {i % 5} using several distinct "
        f"words and a closing number {i}"
        for i in range(24)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    rows += [(100 + i, base[i]) for i in range(4)]  # exact copies
    rows += [(200 + i, base[i] + " extra") for i in range(4)]  # near copies
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_curate_report_counts_ride_the_stage_checkpoints(spark, count_jobs):
    """Report mode reads each stage's row count from the observation on
    that stage's checkpoint job; a separate count() per stage made the
    same call start 31 jobs."""
    from opencosmo_spark.pipeline import curate_corpus

    df = _dup_corpus(spark)
    (_, counts), jobs = count_jobs(
        lambda: curate_corpus(df, min_quality=0.0, min_tokens=1, report=True)
    )
    assert counts == {
        "input": 32, "quality_gate": 32, "exact_dedup": 28, "near_dedup": 24,
    }
    assert jobs <= 31 - len(counts)


def test_curate_corpus_cache_ownership(spark):
    """report=True frees the LSH signature cache itself; report=False
    hands it forward on the returned frame for release_cached."""
    from opencosmo_spark.pipeline import curate_corpus
    from opencosmo_spark.pipeline.dedup import release_cached

    df = spark.createDataFrame(
        [(i, f"document number {i} with some distinct words here {i}")
         for i in range(12)],
        ["doc_id", "text"],
    )
    out, _ = curate_corpus(df, min_quality=0.0, min_tokens=1, report=False)
    cached = list(getattr(out, "_oc_cached", []))
    assert cached, "lazy mode must hand the cache forward"
    out.count()
    release_cached(out)
    assert not any(
        c.storageLevel.useMemory or c.storageLevel.useDisk for c in cached
    )

    out2, _ = curate_corpus(df, min_quality=0.0, min_tokens=1, report=True)
    assert not getattr(out2, "_oc_cached", [])


def test_curate_corpus_gopher_repetition_stage(spark):
    """gopher_rep drops repetition-dominated docs before dedup while
    clean prose passes; helper columns never leak into the output."""
    from opencosmo_spark.pipeline import curate_corpus

    clean = (
        "Different sentences carry different words so nothing repeats "
        "here at all. Every line brings fresh content and the filter "
        "keeps this document while the spam below gets dropped early. "
        "A second paragraph adds more unique material for the gate."
    )
    loop_spam = "\n".join(["identical boilerplate line of text"] * 12)
    gram_spam = " ".join(["click here to win big prizes today"] * 15)
    rows = [(0, clean), (1, loop_spam), (2, gram_spam)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    out, counts = curate_corpus(
        df, min_quality=0.0, min_tokens=1, gopher_rep=True
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert kept == {0}
    assert counts["gopher_rep_gate"] == 1
    assert not any(
        c.startswith("r_") or c == "keep" for c in out.columns
    )

    # threshold overrides flow through the dict form
    out2, c2 = curate_corpus(
        df, min_quality=0.0, min_tokens=1,
        gopher_rep={
            "max_dup_line_frac": 1.0,
            "max_dup_line_char_frac": 1.0,
            "max_dup_para_frac": 1.0,
            "max_dup_para_char_frac": 1.0,
            "top_gram_caps": {n: 1.0 for n in (2, 3, 4)},
            "dup_gram_caps": {n: 1.0 for n in range(5, 11)},
        },
    )
    kept2 = {r["doc_id"] for r in out2.collect()}
    assert 1 in kept2  # line spam survives fully loosened caps

    # column-clash guard covers the r_ prefix
    import pytest as _pytest

    bad = df.withColumn("r_dup_line_frac", F.lit(0.0))
    with _pytest.raises(ValueError, match="collide"):
        curate_corpus(bad, gopher_rep=True)


def test_curate_corpus_multi_epoch_mix(spark):
    """Explicit mix rates above 1 materialize epoch repeats end to
    end: copies carry the epoch index, the mix count reflects the
    replication, and sharding spreads copies deterministically by the
    (id, epoch) composite instead of tying on the doc id."""
    from opencosmo_spark.pipeline import curate_corpus

    rows = [
        (f"{d}-{i}", f"unique {d} document number {i} with words here", d)
        for d in ("big", "small")
        for i in range(100 if d == "big" else 40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])

    out, counts = curate_corpus(
        df, min_quality=0.0, min_tokens=1,
        mix={"big": 0.5, "small": 2.5}, mix_col="source",
        n_shards=4, report=True,
    )
    pdf = out.toPandas()
    assert "epoch" in pdf.columns
    small = pdf[pdf.source == "small"]
    per = small.groupby("doc_id").epoch.count()
    assert set(per.unique()) <= {2, 3}          # 2 or 3 copies each
    assert counts["mix"] == len(pdf)
    assert (pdf[pdf.source == "big"].epoch == 0).all()

    # copies of one doc land in >= 2 distinct shards somewhere (the
    # composite key spreads them; an id-keyed lane could not)
    spread = small.groupby("doc_id")["shard"].nunique()
    assert (spread > 1).any()

    # deterministic across runs
    out2, _ = curate_corpus(
        df, min_quality=0.0, min_tokens=1,
        mix={"big": 0.5, "small": 2.5}, mix_col="source",
        n_shards=4, report=True,
    )
    a = sorted(map(tuple, pdf[["doc_id", "epoch", "shard"]].values))
    b = sorted(
        map(tuple, out2.toPandas()[["doc_id", "epoch", "shard"]].values)
    )
    assert a == b

    # rates <= 1 keep the old schema (no epoch column)
    out3, _ = curate_corpus(
        df, min_quality=0.0, min_tokens=1,
        mix={"big": 0.5, "small": 1.0}, mix_col="source",
    )
    assert "epoch" not in out3.columns
