"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every stage is built-in JVM expressions (xxhash64,
array_min, transform) — no Python in the hot path. MinHash-LSH is the
canonical shingle -> minhash -> band -> bucket-join pipeline: candidate
generation is a hash-partition groupBy on band keys (shuffle ∝ corpus
size, not corpus²); only candidates pay the exact-Jaccard verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql import types as T

from .._parallel import spread_small_input


def md5_lane(c, hex_digits: int = 15) -> F.Column:
    """Deterministic non-negative hash lane from md5 (60 bits at the
    default 15 hex digits), computable bit-for-bit in standard SQL
    engines (DuckDB: ``('0x' || substring(md5(x), 1, 15))::BIGINT``).
    ~2x slower than xxhash64 — the cross-engine-checkable primitive,
    not the scale default. The ONE home of this idiom: sampling,
    sharding, classification hashing, and pseudonymization all call
    it so the lane can never drift between modules."""
    return F.conv(F.substring(F.md5(c), 1, hex_digits), 16, 10).cast("long")


def _shingle_frame(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, sh: array<long>) of distinct hashed k-word shingles.

    Each word is xxhash64'd; a shingle is the progressive hash-combine
    of its k word hashes (``h = xxhash64(h, next)``) — no per-window
    string slicing or concatenation, and the k-word window equality
    relation is identical to comparing the joined strings (words cannot
    contain the split delimiter), so Jaccard counts are unchanged
    (modulo negligible 64-bit collisions).

    The windows are built with ``zip_with`` over k SHIFTED SLICES of
    the word-hash array, never with indexed access inside a lambda:
    ``try_element_at(wh, i)`` in a transform body invites Catalyst's
    CollapseProject to inline the word-hash projection into the lambda,
    re-evaluating ``split(text)`` + the full word-hash transform per
    ELEMENT — O(words^2) per doc (measured 25x wall-clock at sf0.1,
    and the projection-alias "barrier" is an optimizer implementation
    detail, not a contract; the general rule, "never put a tokenizer
    in a lambda body, bind it", is in ``_litarr``'s module docstring
    with its helper ``sql_let``). With slices, the worst case after full
    inlining is k evaluations per ROW — still linear, no persist or
    exchange barrier needed, zero shuffle. Docs shorter than k words
    yield one partial window: slices past the end are empty, zip_with
    null-pads, and xxhash64 skips nulls deterministically.
    """
    # tokenize+hash+window-combine is the expensive per-row leg and it
    # runs BEFORE any exchange: a single-row-group input would execute
    # it as one task (guide §2.5 input skew) — spread first, no-op on
    # already-parallel scans. KEYED by the row id: a keyless
    # round-robin pays sortBeforeRepartition's local sort inside the
    # very map task being relieved (the q50 finding).
    df = spread_small_input(df, key=F.col(id_col))
    # the whole chain is rendered as TWO parsed SQL expressions (the
    # _litarr/similarity SQL-text idiom): each higher-order-function
    # Column built from Python costs ~20 ms of py4j round-trips, and
    # this builder runs 1 transform + (k-1) zip_with + array_distinct
    # per call — measured as the bulk of the ngram query's ~1.5 s
    # driver-side construction. Identical expression tree: split's
    # default limit is -1 and xxhash64's default seed 42 on both paths.
    tq = "`" + text_col.replace("`", "``") + "`"
    wdf = df.select(
        F.col(id_col),
        F.expr(f"transform(split({tq}, ' '), w -> xxhash64(w))").alias(
            "__wh"
        ),
    )
    nwin = f"greatest(size(__wh) - {k - 1}, 1)"
    sh = f"slice(__wh, 1, {nwin})"
    for off in range(1, k):
        sh = (
            f"zip_with({sh}, slice(__wh, {1 + off}, {nwin}), "
            f"(h, w) -> xxhash64(h, w))"
        )
    return wdf.select(
        F.col(id_col), F.expr(f"array_distinct({sh})").alias("sh")
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup via hash-groupBy: one surviving (min id) row per
    distinct text; returns (fingerprint, keep id, group size)."""
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    f = df.select(F.md5(t).alias("fp"), F.col(id_col))
    return f.groupBy("fp").agg(
        F.min(id_col).alias(f"keep_{id_col}"), F.count(F.lit(1)).alias("n")
    )


def duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    min_docs: int = 2,
    decimals: int = 6,
) -> DataFrame:
    """Exact duplicated-span profile (the suffix-array substring-dedup
    niche, e.g. Lee et al. 2022 "Deduplicating Training Data Makes
    Language Models Better", recast as hash aggregation): for every
    document, how many of its distinct ``span``-word windows also
    appear in at least ``min_docs`` documents corpus-wide.

    Returns one row per document:
    ``(id, n_spans, n_dup_spans, dup_frac)`` — filter on ``dup_frac``
    to drop documents that are mostly copied boilerplate, or join the
    flagged span set back to locate the copied regions.

    Plan: distinct hashed windows per doc (``_shingle_frame`` —
    zip_with over shifted slices, zero shuffle, no O(words^2)), then
    one explode keyed by span hash for global document frequency, an
    equi-join of the exploded frame against the >=min_docs span set
    (both sides partitioned by the hash), and one aggregation keyed by
    doc id. Every shuffle is proportional to corpus token count — the
    irreducible size of the problem — and the span set never
    materializes on the driver. 64-bit hash collisions merge unrelated
    spans at ~2^-64 per pair; a production run at vocabulary scale can
    widen to 128 bits by pairing two seeded xxhash64 lanes.
    """
    from pyspark import StorageLevel

    sh = _shingle_frame(df, text_col, id_col, span)
    # consumed THREE times below (the document-frequency agg, the
    # hit-count join, and the final per-doc left join) — without a
    # persist each consumer re-runs the tokenize+window-hash pass over
    # the full corpus (guide §5 caching rule: reused AND expensive).
    # Cached rows are (id, n_spans, span-hash array): the text itself
    # is NOT cached, so the footprint is ~8 bytes per corpus token,
    # spilling to disk at scale; the caller frees it via
    # release_cached once the result is materialized.
    counted = sh.select(
        F.col(id_col), F.size("sh").cast("long").alias("n_spans"), F.col("sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ex = counted.select(F.col(id_col), F.explode("sh").alias("g"))
    dup = (
        ex.groupBy("g")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= int(min_docs))
        .select("g")
    )
    hits = (
        ex.join(dup, "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return _attach_cached(
        counted.drop("sh")
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
            F.round(
                F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("double")
                / F.col("n_spans"),
                decimals,
            ).alias("dup_frac"),
        ),
        [counted],
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, shingles: array<long>, sig: array<long>).

    ``hasher="xxhash64"`` (default, the scale path): each word is
    string-hashed ONCE, windows combine the k word-hash longs — so the
    expensive string hashing is a single pass, and the ``num_hashes``
    minhash passes run over longs. sig[j] = min over shingles of
    xxhash64(shingle_hash, j).

    ``hasher="md5"``: shingles are md5 lanes of the joined k-word
    window string and sig[j] = min of md5_lane(shingle_hash || ':' ||
    j) — every step reproducible in DuckDB SQL, so the whole pipeline
    (banding, bucket join, exact-Jaccard verify) is oracle-checkable.
    Same algebra, swappable primitive.
    """
    # shingling + num_hashes minhash lanes is the dominant per-row
    # cost and precedes every exchange: parallelize a single-partition
    # input up front (no-op at scale — guide §2.5 input skew). Keyed
    # by row id — no sortBeforeRepartition local sort (q50 finding).
    df = spread_small_input(df, key=F.col(id_col))
    # expressions are rendered as parsed SQL text (the _litarr idiom):
    # the old Column form built 2 + num_hashes higher-order functions
    # per call at ~20 ms of py4j round-trips each — over a second of
    # serial driver time per minhash query at num_hashes=16. The SQL
    # strings parse to the identical trees (split's default limit,
    # xxhash64's default seed 42, md5_lane's conv/substring/cast all
    # spelled out; oracle hash-checks the downstream pairs).
    tq = "`" + text_col.replace("`", "``") + "`"

    def _ml(x: str) -> str:  # md5_lane(x) twin
        return f"cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"

    if hasher == "xxhash64":
        base = df.select(
            F.col(id_col),
            F.expr(f"transform(split({tq}, ' '), w -> xxhash64(w))").alias(
                "wh"
            ),
        )
        # try_element_at: docs shorter than k words yield one partial
        # window (nulls hash deterministically)
        args = ", ".join(
            f"try_element_at(wh, i + {off})" for off in range(shingle_k)
        )
        win = (
            f"transform(sequence(1, greatest(size(wh) - {shingle_k - 1}, "
            f"1)), i -> xxhash64({args}))"
        )
        lanes = ", ".join(
            f"array_min(transform(shingles, s -> xxhash64(s, {j})))"
            for j in range(num_hashes)
        )
    elif hasher == "md5":
        base = df.select(
            F.col(id_col), F.expr(f"split({tq}, ' ')").alias("ws")
        )
        inner = _ml(f"array_join(slice(ws, i, {shingle_k}), ' ')")
        win = (
            f"transform(sequence(1, greatest(size(ws) - {shingle_k - 1}, "
            f"1)), i -> {inner})"
        )
        lanes = ", ".join(
            "array_min(transform(shingles, s -> "
            + _ml(f"concat(cast(s as string), ':{j}')")
            + "))"
            for j in range(num_hashes)
        )
    else:
        raise ValueError(f"unknown hasher {hasher!r} (xxhash64|md5)")
    base = base.select(
        F.col(id_col), F.expr(f"array_distinct({win})").alias("shingles")
    )
    return base.select(
        F.col(id_col), F.col("shingles"), F.expr(f"array({lanes})").alias("sig")
    )


def _attach_cached(result: DataFrame, cached) -> DataFrame:
    """Record persisted intermediates on the (lazy) result frame so the
    caller can free them once the result is materialized. The builders
    here persist the signature frame because it feeds several joins of
    ONE result; but the result is lazy, so the builder can never know
    when the cache is safe to drop — that moment belongs to the
    caller. Without this, a continuous-ingest loop (incremental_dedup
    per batch) accumulates MEMORY_AND_DISK frames until the executor
    store evicts under pressure."""
    prior = list(getattr(result, "_oc_cached", []))
    result._oc_cached = prior + list(cached)
    return result


def release_cached(df: DataFrame) -> None:
    """Unpersist every intermediate the dedup builders cached while
    constructing ``df``. Call AFTER materializing the result (write,
    collect, count) — per batch in ingest loops."""
    for c in getattr(df, "_oc_cached", []):
        c.unpersist()
    df._oc_cached = []


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    hasher: str,
    persist: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """``(sigs, banded)``: the persisted (id, shingles, sig) frame plus
    its exploded (id, band_key) LSH index. ``banded`` is exactly what
    an ingest-time materialization writes (clustered on band_key) so
    later batches can probe it without recomputing the corpus side.

    persist: the signature frame is read multiple times (band join
    sides + verify joins); recomputing shingles+minhash each time
    costs more than materializing once. Storage is MEMORY_AND_DISK —
    safe at scale, and the frame is (id, shingles, sig) only.

    Band keys hash the band's signature lanes down to one long
    (8-byte shuffle keys) with the mode's own primitive, so md5 mode
    stays byte-reproducible in SQL. The keys are built as ONE array
    then exploded — a per-band union would recompute the whole
    minhash pipeline bands× (measured 4x wall-clock at sf0.1).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, hasher)
    if persist:
        sigs = sigs.persist()
    return sigs, band_keys_from_signatures(sigs, id_col, num_hashes, bands, hasher)


def band_keys_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    hasher: str = "xxhash64",
) -> DataFrame:
    """(id, band_key) from a signature frame — pure array expressions
    over the ``sig`` column, NO pass over the text. This is how a
    loaded on-disk index (``write_dedup_index``) rebuilds its band
    keys: the expensive part (tokenize + shingle + minhash) stays
    paid-once at ingest."""
    rows = num_hashes // bands

    def band_key(b):
        if hasher == "md5":
            return md5_lane(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)],
                )
            )
        return F.xxhash64(
            F.lit(b), *[F.col("sig")[b * rows + r] for r in range(rows)]
        )

    band_keys = F.array(*[band_key(b) for b in range(bands)])
    return sigs.select(F.col(id_col), F.explode(band_keys).alias("band_key"))


def dedup_index_rows(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hasher: str = "xxhash64",
    normalize: bool = True,
) -> DataFrame:
    """The (id, fp, shingles, sig) rows a dedup index stores for a set
    of documents — the exact-dedup fingerprint plus the MinHash state.
    ``write_dedup_index`` writes these for a full corpus;
    ``streaming.near_dedup_stream`` appends them per micro-batch so
    later batches probe earlier survivors without re-reading text."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, hasher)
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    fps = df.select(F.col(id_col), F.md5(t).alias("fp"))
    return fps.join(sigs, id_col)


def write_dedup_index(
    df: DataFrame,
    path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
    hasher: str = "xxhash64",
    normalize: bool = True,
    buckets: int = 64,
) -> dict:
    """Materialize the corpus's dedup index: one parquet table of
    (id, fp, shingles, sig) rows — the exact-dedup fingerprint plus
    the MinHash state — repartitioned into ``buckets`` files by id
    hash. Later ``incremental_dedup(existing_index=...)`` calls load
    it and derive band keys with array expressions only — the corpus
    text is never re-read, which is the difference between O(batch)
    and O(corpus) work per arriving batch.

    The build parameters are written as ``_dedup_params.json`` inside
    the directory (and returned): an index probed with DIFFERENT
    shingle/hash parameters would silently miss every duplicate, so
    ``read_dedup_index`` returns them and ``incremental_dedup``
    validates them when given.
    """
    out = dedup_index_rows(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        shingle_k=shingle_k,
        hasher=hasher,
        normalize=normalize,
    )
    out.repartition(buckets, F.col(id_col)).write.mode("overwrite").parquet(path)
    import json

    from ..io.ingest import hadoop_fs

    params = {
        "num_hashes": num_hashes,
        "shingle_k": shingle_k,
        "hasher": hasher,
        "normalize": normalize,
        "id_col": id_col,
    }
    # sidecar goes through the Hadoop FileSystem so the index works on
    # HDFS/S3 URIs, not just driver-local paths
    jvm, fs, jpath = hadoop_fs(
        df.sparkSession, path.rstrip("/") + "/_dedup_params.json"
    )
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(params).encode("utf-8")))
    finally:
        stream.close()
    return params


def extend_dedup_index(
    base_path: str,
    new_df: DataFrame,
    out_path: str,
    *,
    text_col: str = "text",
    buckets: int = 64,
) -> dict:
    """Publish a NEW dedup index covering base + new documents: the
    base index's (id, fp, shingles, sig) rows are COPIED (the old
    corpus text is never re-read — the whole point of the artifact),
    and the new documents' rows are computed with the base's OWN
    stored parameters, so the chain can never drift into a silent
    shingle/hash mismatch. Writes to ``out_path`` with the same
    sidecar; returns the parameters.

    ``out_path`` must differ from ``base_path``: Spark cannot
    overwrite a table it is reading, and a versioned path per release
    is the auditable layout anyway (release N+1 probes release N's
    index by name).
    """
    import json

    from ..io.ingest import hadoop_fs

    if out_path.rstrip("/") == base_path.rstrip("/"):
        raise ValueError(
            "extend_dedup_index cannot overwrite the index it reads — "
            "write a new versioned path per release"
        )
    spark = new_df.sparkSession
    base, params = read_dedup_index(spark, base_path)
    id_col = params.get("id_col", "doc_id")
    rows = dedup_index_rows(
        new_df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=params.get("num_hashes", 16),
        shingle_k=params.get("shingle_k", 3),
        hasher=params.get("hasher", "xxhash64"),
        normalize=params.get("normalize", True),
    )
    (
        base.unionByName(rows)
        .repartition(buckets, F.col(id_col))
        .write.mode("overwrite")
        .parquet(out_path)
    )
    jvm, fs, jpath = hadoop_fs(
        spark, out_path.rstrip("/") + "/_dedup_params.json"
    )
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(json.dumps(params).encode("utf-8")))
    finally:
        stream.close()
    return params


def read_dedup_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load a ``write_dedup_index`` table plus its build parameters.
    Pass both to ``incremental_dedup(existing_index=...,
    index_params=...)`` so a parameter mismatch fails loudly instead
    of silently missing duplicates."""
    import json

    from ..io.ingest import hadoop_fs

    df = spark.read.parquet(path)
    jvm, fs, jpath = hadoop_fs(spark, path.rstrip("/") + "/_dedup_params.json")
    params: dict = {}
    if fs.exists(jpath):
        stream = fs.open(jpath)
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, spark._jsc.hadoopConfiguration(), True
        )
        params = json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    return df, params


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.2,
    hasher: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    banding: rows = num_hashes/bands hashes per band; docs sharing any
    band key become candidates (bucket-join, not all-pairs); candidates
    are verified with exact shingle-set Jaccard. Band keys hash the
    band's signature lanes down to one long (8-byte shuffle keys)
    using the mode's own primitive, so md5 mode stays
    byte-reproducible in SQL.
    """
    sigs, banded = _banded_signatures(
        df, text_col, id_col, num_hashes, bands, shingle_k, hasher
    )
    a = banded.select(F.col(id_col).alias("a"), "band_key")
    b = banded.select(F.col(id_col).alias("b"), "band_key")
    cand = (
        a.join(b, "band_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )

    sh = sigs.select(F.col(id_col), F.col("shingles"))
    j = (
        cand.join(sh.withColumnsRenamed({id_col: "a", "shingles": "sh_a"}), "a")
        .join(sh.withColumnsRenamed({id_col: "b", "shingles": "sh_b"}), "b")
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| exactly (shingle arrays are
    # array_distinct'ed), so the union needs no second array
    # traversal/allocation — codegen CSE evaluates the shared
    # intersect subtree once (guide §1.2 per-task work; the verify
    # stage is allocation-bound: its task time was ~5x its CPU time)
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return _attach_cached(
        j.select("a", "b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold),
        [sigs],
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hasher: str = "xxhash64",
) -> DataFrame:
    """SimHash per document from word-level hashes.

    Explode words -> per-bit ±1 contributions -> ``bits`` grouped sums
    -> reassemble sign bits. Pure JVM aggregation; the sum exprs stay
    inside one hash-aggregate pass. ``hasher="md5"`` uses the 60-bit
    md5 lane (bits must be <= 60) so the identical computation runs in
    DuckDB SQL for oracle checking.
    """
    words = F.explode(F.split(F.col(text_col), " ")).alias("w")
    # the explode multiplies rows ~words× before the grouped bit-sum
    # shuffle; spread a single-partition input so the explode + 64
    # per-bit CASE sums run on all cores (no-op at scale). Keyed by
    # row id — no sortBeforeRepartition local sort (q50 finding).
    ex = spread_small_input(df, key=F.col(id_col)).select(
        F.col(id_col), words
    ).filter(F.col("w") != "")
    if hasher == "md5":
        if bits > 60:
            raise ValueError("md5 lane provides 60 bits")
        wh = md5_lane(F.col("w"))
    elif hasher == "xxhash64":
        wh = F.xxhash64(F.col("w"))
    else:
        raise ValueError(f"unknown hasher {hasher!r} (xxhash64|md5)")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(wh, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    g = ex.groupBy(id_col).agg(*bit_sums)
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(
                F.when(F.col(f"b{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
                i,
            )
        )
    return g.select(F.col(id_col), out.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
    allow_bruteforce: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs.

    With no candidate frame and threshold > 0, uses the scalable
    inverted-index plan: explode each doc's distinct shingles to
    (id, |doc|, shingle-hash) rows, EQUI-SELF-JOIN on the hash, and
    count co-occurrences per (a, b) pair — the intersection size —
    then Jaccard = inter / (|A| + |B| - inter).
    Pairs sharing zero shingles (Jaccard 0) are never generated, so the
    result is identical to all-pairs for any positive threshold, but the
    cost is keyed by shared shingles instead of O(n^2) docs. Word
    k-shingles are rarely shared across unrelated documents, so join
    fan-out stays bounded; a shingle shared by s docs still costs s^2
    pairs. ``max_doc_freq`` removes shingles with document frequency
    above the cap BEFORE the join — the standard cost bound for
    heavy-duplication corpora (capped-universe semantics: doc sizes
    are recomputed over the kept vocabulary, so Jaccard stays exact on
    the reduced universe rather than silently biased down). Exact-dedup
    the corpus first (``exact_dedup``) — identical copies are the main
    source of hot shingles and are far cheaper to collapse with a hash
    groupBy than to rediscover pairwise here.

    Plan-shape rationale (measured at sf0.1): the join generates pairs
    in whole-stage codegen and re-evaluates the cheap shingle subtree
    once per side; the collect_list/explode alternative evaluates an
    INTERPRETED higher-order lambda per posting-list element (~25%
    slower end-to-end) and concentrates a hot shingle's s^2 expansion
    in one task, whereas the join spreads pair rows across reducers
    and AQE skew-join splits hot keys. The size-compatibility bound
    prunes inside the join filter, before the pair-count shuffle:
    J(A,B) <= min/max of the sizes, so min < t*max can never reach
    the threshold — dropped with zero effect on the result.

    threshold <= 0 (or an explicit candidate frame) falls back to the
    pairwise array_intersect plan. With neither a candidate frame nor
    a positive threshold that plan is an ALL-PAIRS crossJoin —
    O(n^2) rows, a corpus-killer if reached by accident — so it
    additionally requires ``allow_bruteforce=True``; it exists only
    as the exact-verification baseline for differential tests.
    """
    if candidates is None and threshold > 0:
        sh = _shingle_frame(df, text_col, id_col, k)
        if max_doc_freq is not None:
            ex = sh.select(F.col(id_col), F.explode("sh").alias("h"))
            hot = (
                ex.groupBy("h")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > max_doc_freq)
                .select("h")
            )
            ex = ex.join(F.broadcast(hot), "h", "left_anti")
            sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
            ex = ex.join(sizes, id_col)
        else:
            ex = sh.select(
                F.col(id_col),
                F.size("sh").alias("n"),
                F.explode("sh").alias("h"),
            )
        # both self-join sides read ex; without a persist each side
        # re-runs the tokenize+shingle pass (at broadcast-join scale
        # the build side re-computes it wholesale — guide §5 caching
        # rule: reused AND expensive). Cached rows are (id, n, hash)
        # longs — text never cached; released via release_cached.
        from pyspark import StorageLevel

        ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
        t = float(threshold)
        a = ex.select(
            F.col(id_col).alias("a"), F.col("n").alias("na"), "h"
        )
        b = ex.select(
            F.col(id_col).alias("b"), F.col("n").alias("nb"), "h"
        )
        pairs = a.join(b, "h").filter(
            (F.col("a") < F.col("b"))
            & (
                F.least("na", "nb").cast("double")
                >= F.lit(t) * F.greatest("na", "nb").cast("double")
            )
        )
        hits = pairs.groupBy("a", "b", "na", "nb").agg(
            F.count(F.lit(1)).alias("inter")
        )
        jac = F.col("inter").cast("double") / (
            F.col("na") + F.col("nb") - F.col("inter")
        )
        return _attach_cached(
            hits.select(
                "a", "b", F.round(jac, 6).alias("jaccard")
            ).filter(F.col("jaccard") >= threshold),
            [ex],
        )
    sh = _shingle_frame(df, text_col, id_col, k)
    if candidates is None:
        if not allow_bruteforce:
            raise ValueError(
                "ngram_jaccard_pairs with candidates=None and "
                "threshold <= 0 is an all-pairs crossJoin (O(n^2)); "
                "pass candidates (e.g. from minhash_lsh_candidates), "
                "use a positive threshold for the inverted-index plan, "
                "or opt in explicitly with allow_bruteforce=True"
            )
        a = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
        pairs = a.crossJoin(b).filter(F.col("a") < F.col("b"))
    else:
        pairs = (
            candidates.join(
                sh.withColumnsRenamed({id_col: "a", "sh": "sh_a"}), "a"
            ).join(sh.withColumnsRenamed({id_col: "b", "sh": "sh_b"}), "b")
        )
    # same size identity as the LSH verify: shingle arrays are
    # distinct, so the union size is arithmetic over the intersect
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    return pairs.select("a", "b", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_dup: int = 2,
    min_line_chars: int = 1,
    sep: str = "\n",
    hot_lines: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level duplicate-LINE removal — the boilerplate scrub of
    the RefinedWeb/Falcon recipe (Penedo et al. 2023): any line at
    least ``min_line_chars`` long that appears in >= ``min_dup``
    DISTINCT documents (headers, nav menus, cookie banners, licence
    stubs) is deleted from EVERY document; remaining lines keep their
    order. Rows whose text was entirely boilerplate survive with
    ``text=''`` so row identity is stable for downstream joins.

    Scale shape — two keyed shuffles, both partial-aggregated:
    (1) posexplode lines, count distinct docs per 8-byte line hash;
    (2) anti-join the exploded lines against the hot-line set and
    reassemble per doc (sorted-struct collect_list). The hot set is
    the DISTINCT boilerplate vocabulary — tiny relative to the corpus
    (that's what makes it boilerplate), so AQE broadcasts the
    anti-join side; hashes (not line strings) cross the shuffle.

    ``hot_lines`` (a DataFrame with a ``line`` string column, e.g.
    from ``discover_boilerplate_lines``) REPLACES the exact count:
    the provided lines become the hot set directly — no per-line
    counting pass — so a sketch-discovered (or hand-curated)
    boilerplate vocabulary can drive the scrub with its size bounded
    by construction instead of by the corpus's distinct-line count.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("h", F.xxhash64("line"))
    if hot_lines is not None:
        hot = hot_lines.select(F.xxhash64("line").alias("h")).distinct()
    else:
        hot = (
            lines.filter(F.length("line") >= min_line_chars)
            .groupBy("h")
            .agg(F.count_distinct(F.col(id_col)).alias("ndocs"))
            .filter(F.col("ndocs") >= min_dup)
            .select("h")
        )
    kept = lines.join(hot, "h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias(text_col)
    )
    out = df.drop(text_col).join(rebuilt, id_col, "left")
    return out.fillna({text_col: ""})


def dedup_by_clusters(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """End-to-end keep-canonical dedup: candidate pairs -> connected
    components -> keep ONE row per cluster (the smallest id — the
    standard keep-first policy). The composition every curation
    pipeline actually runs: generate pairs with any of the candidate
    operators (exact/minhash/simhash/ngram), then collapse here.

    The final semi-join broadcasts only the survivor ids when small;
    at full scale it is one hash join keyed by id — no extra pass over
    document payloads."""
    labels = connected_components(edges, df.select(id_col), id_col, a_col, b_col)
    keep = labels.filter(F.col(id_col) == F.col("cluster_id")).select(id_col)
    return df.join(keep, id_col, "left_semi")


def incremental_dedup(
    existing: DataFrame | None,
    incoming: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
    near_dup: bool = True,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    jaccard_threshold: float = 0.5,
    hasher: str = "xxhash64",
    existing_index: DataFrame | None = None,
    index_params: dict | None = None,
) -> DataFrame:
    """Dedup an INCOMING batch against an already-curated EXISTING
    corpus and against itself — the continuous-ingest form every
    growing training corpus needs (a full re-dedup of corpus+batch
    would re-shuffle the whole corpus per batch).

    Stages:

    1. exact — normalized-text md5 fingerprints: keep one incoming row
       per new fingerprint (smallest id), drop fingerprints the
       existing corpus already has. Shuffles keyed by fingerprint and
       sized by the BATCH plus one streamed pass over existing.
    2. near-dup (optional) — MinHash band keys: candidate pairs come
       from joining INCOMING bands to EXISTING bands (never existing x
       existing — that side is already deduped), verified with exact
       shingle Jaccard; then within-batch near-dups collapse via
       connected components (batch-sized).

    At 100 TB pass ``existing_index`` — the loaded
    ``write_dedup_index`` table of (id, fp, shingles, sig) — and the
    corpus TEXT is never touched: the exact stage anti-joins the
    index's fingerprints and the band keys derive from the stored
    signatures with array expressions only. Without an index the
    function recomputes both from ``existing``, which is correct at
    any scale but pays extra passes over the corpus per call. The
    corpus side is deliberately NOT cached (a per-batch persist of the
    whole corpus's signature frame would accumulate across the ingest
    loop); only the batch-sized incoming signatures persist, and both
    the cross-corpus and within-batch stages reuse that one frame.

    Returns the surviving incoming rows (df-in/df-out).
    """
    if existing is None and existing_index is None:
        raise ValueError("pass existing and/or existing_index")
    if index_params:
        # an index probed with different shingle/hash parameters would
        # silently miss every duplicate — fail loudly instead
        call_params = {
            "num_hashes": num_hashes,
            "shingle_k": shingle_k,
            "hasher": hasher,
            "normalize": normalize,
            "id_col": id_col,
        }
        mismatched = {
            k: (v, index_params[k])
            for k, v in call_params.items()
            if k in index_params and index_params[k] != v
        }
        if mismatched:
            raise ValueError(
                f"index was built with different parameters: {mismatched} "
                "(call vs index) — re-run with the index's parameters or "
                "rebuild the index"
            )
    t = F.col(text_col)
    if normalize:
        t = F.lower(F.regexp_replace(F.trim(t), r"\s+", " "))
    fp = F.md5(t)
    inc_fp = incoming.withColumn("__fp", fp)
    keep_first = (
        inc_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col)).select(id_col)
    )
    if existing_index is not None:
        ex_fps = existing_index.select(F.col("fp").alias("__fp")).distinct()
    else:
        ex_fps = existing.select(fp.alias("__fp")).distinct()
    survivors = (
        inc_fp.join(keep_first, id_col, "left_semi")
        .join(ex_fps, "__fp", "left_anti")
        .drop("__fp")
    )
    if not near_dup:
        return survivors

    sigs_in, bands_in = _banded_signatures(
        survivors, text_col, id_col, num_hashes, bands, shingle_k, hasher
    )
    if existing_index is not None:
        sigs_ex = existing_index.select(id_col, "shingles", "sig")
        bands_ex = band_keys_from_signatures(
            sigs_ex, id_col, num_hashes, bands, hasher
        )
    else:
        sigs_ex, bands_ex = _banded_signatures(
            existing, text_col, id_col, num_hashes, bands, shingle_k, hasher,
            persist=False,
        )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac_ok = inter.cast("double") / union >= jaccard_threshold
    sh_in = sigs_in.select(F.col(id_col).alias("a"), F.col("shingles").alias("sh_a"))

    # cross-corpus: incoming bands probe existing bands
    cand = (
        bands_in.select(F.col(id_col).alias("a"), "band_key")
        .join(bands_ex.select(F.col(id_col).alias("b"), "band_key"), "band_key")
        .select("a", "b")
        .distinct()
    )
    sh_ex = sigs_ex.select(F.col(id_col).alias("b"), F.col("shingles").alias("sh_b"))
    flagged = (
        cand.join(sh_in, "a")
        .join(sh_ex, "b")
        .filter(jac_ok)
        .select(F.col("a").alias(id_col))
        .distinct()
    )
    fresh = survivors.join(flagged, id_col, "left_anti")

    # within-batch: pair generation straight from the ALREADY-persisted
    # incoming bands/shingles (filtered to still-fresh ids) — no third
    # run of the shingle+minhash pipeline
    fresh_ids = fresh.select(id_col)
    b_in = bands_in.join(fresh_ids, id_col, "left_semi")
    pa = b_in.select(F.col(id_col).alias("a"), "band_key")
    pb = b_in.select(F.col(id_col).alias("b"), "band_key")
    pairs = (
        pa.join(pb, "band_key")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .join(sh_in, "a")
        .join(
            sigs_in.select(F.col(id_col).alias("b"), F.col("shingles").alias("sh_b")),
            "b",
        )
        .filter(jac_ok)
        .select("a", "b")
    )
    return _attach_cached(dedup_by_clusters(fresh, pairs, id_col), [sigs_in])


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a",
    b_col: str = "b",
    max_iterations: int = 30,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Duplicate CLUSTERS from candidate pairs: connected components by
    iterative min-label propagation. Returns (id_col, cluster_id) for
    every node, cluster_id = the smallest id reachable through the
    pair graph (isolated nodes keep their own id) — the dedup endgame:
    candidate pairs -> groups -> keep ``cluster_id == id`` as the
    canonical survivor. Numeric AND string ids both work (string
    cluster ids are the lexicographic minimum; their convergence
    check sums a 64-bit label hash — the star path's checksum idiom).
    Edge endpoints must be drawn from ``nodes`` (every in-repo caller
    derives both from the same corpus); behavior for an endpoint
    absent from ``nodes`` is unspecified.

    Two algorithms:

    - ``algorithm="minlabel"`` (default): iterative min-label
      propagation. Each iteration is ONE shuffle keyed by node id
      (symmetric edges joined to current labels, groupBy min, least
      with self); iterations = graph diameter. Near-dup graphs are
      unions of near-cliques (diameter 2-3), so the loop runs a
      handful of rounds regardless of corpus size. The driver loop
      carries only a convergence scalar (labels only ever decrease, so
      an unchanged label-sum is a fixpoint).
    - ``algorithm="star"``: alternating large-star / small-star
      (Kiveris et al. 2014, "Connected Components in MapReduce and
      Beyond"). Rounds are O(log^2 n) worst case and O(log n) in
      practice regardless of diameter — the right choice for
      percolation-shaped graphs (FoF chains, long web-link paths)
      where diameter can exceed any fixed round budget. Each round is
      two grouped shuffles over the *edge* set (which only ever
      shrinks toward one edge per non-root node), so per-round cost is
      comparable to a minlabel round on the same graph.

    Both paths localCheckpoint per round to truncate lineage — at
    cluster scale swap for ``checkpoint()`` against distributed
    storage.
    """
    if algorithm == "star":
        return _star_components(
            edges, nodes, id_col, a_col, b_col, max_iterations
        )
    if algorithm != "minlabel":
        raise ValueError(
            f"algorithm must be 'minlabel' or 'star', got {algorithm!r}"
        )
    # materialize the edge list ONCE: it is re-joined every round, and
    # upstream candidate generation (LSH banding, Jaccard verify) must
    # not be re-executed per iteration. Self-loops (n, n) fold the
    # node's OWN label into the neighborhood min, so each round below
    # is one join + one grouped min producing the new labels directly
    # — the old shape (neighbor-min agg, then a second left-join of
    # labels against it with least/coalesce) re-shuffled the label
    # table once more per round and, under AQE, materialized an extra
    # broadcast per round (guide §2.4: two operations keyed the same
    # way share one exchange; the closed-neighborhood min IS the new
    # label, so the second join computed nothing the agg could not).
    # both edge directions come out of ONE explode over each edge row
    # — the old two-branch union consumed `edges` twice, re-running
    # the WHOLE upstream candidate generation (LSH banding + exact
    # verify) once per direction (two identical heavy map stages in
    # the q47 profile; guide §2.4/§5: reused and expensive subtrees
    # must not be re-evaluated). Same row multiset, same types.
    from pyspark import StorageLevel

    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("s"), F.col(b_col).alias("d")
                    ),
                    F.struct(
                        F.col(b_col).alias("s"), F.col(a_col).alias("d")
                    ),
                )
            ).alias("__e")
        )
        .select(
            F.col("__e.s").alias("__src"), F.col("__e.d").alias("__dst")
        )
        .union(
            nodes.select(
                F.col(id_col).alias("__src"), F.col(id_col).alias("__dst")
            )
        )
    )
    # r15: a checkpointed frame reports UnknownPartitioning, so EVERY
    # round's join used to re-shuffle the whole edge table (the BIG
    # side of CC). Hash-partition it ONCE by the join key and cache:
    # each round's join then reuses the cached partitioning and only
    # the (smaller) label table shuffles (guide §2.4 — operations
    # keyed the same way share one exchange). One extra up-front
    # shuffle buys rounds-1 avoided edge shuffles — net-positive for
    # any graph needing >= 2 rounds, i.e. all of them, WHEN the
    # per-round join is a shuffle join (the at-scale case; at toy
    # scale the label side broadcasts and the cache only costs its
    # materialization). The cache is bounded (the edge multiset, two
    # longs per row), spills to disk, and is released before
    # returning; the per-round label checkpoints keep round plans
    # lineage-free. The edges get no eager localCheckpoint: the
    # partitioned cache is itself the materialization barrier (round 0
    # fills it in its own job — one job and one pass fewer than
    # checkpoint THEN repartition). The upstream candidate pipeline
    # stays in the logical lineage, so each round re-ANALYZES it
    # (driver-side, small) but never re-executes it.
    sym = sym.repartition(F.col("__dst")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # round-0 labels are the IDENTITY map (label(x) = x), so the first
    # propagation round needs no label join at all: min over the
    # closed neighborhood of __dst ids IS min over round-0 labels.
    # The loop below therefore starts from the round-1 result directly
    # — one grouped shuffle replaces (eager identity checkpoint job +
    # join + grouped shuffle): two fewer jobs per call (guide §2.4
    # remove shuffles outright).
    labels = nodes.select(
        F.col(id_col).alias("__node"), F.col(id_col).alias("__label")
    )
    # convergence metric: numeric labels sum exactly; non-numeric
    # (string) ids sum a 64-bit hash instead — the same
    # consecutive-equal-checksum idiom the star path uses, since
    # "unchanged sum while labels changed" needs a hash-sum collision
    numeric_ids = isinstance(
        labels.schema["__label"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
         T.FloatType, T.DoubleType, T.DecimalType),
    )

    def _conv_metric():
        lbl = F.col("__label")
        return F.sum(
            (lbl if numeric_ids else F.xxhash64(lbl)).cast("decimal(38,0)")
        ).alias("s")

    prev_sum = None
    converged = False
    for it in range(max_iterations):
        # the convergence scalar rides the SAME job that materializes
        # the checkpoint (Observation = CollectMetrics in the plan) —
        # one pass over labels per round instead of two
        obs = Observation()
        if it == 0:
            # identity labels: label(__dst) == __dst, the join is a
            # no-op — aggregate sym directly (see round-0 note above)
            new = sym.groupBy("__src").agg(
                F.min("__dst").alias("__label")
            )
        else:
            new = (
                sym.join(labels, sym["__dst"] == labels["__node"])
                .groupBy("__src")
                .agg(F.min("__label").alias("__label"))
            )
        labels = (
            new.select(F.col("__src").alias("__node"), "__label")
            .observe(obs, _conv_metric())
            .localCheckpoint(eager=True)
        )
        cur = obs.get["s"]
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # a silent partial result would let dedup_by_clusters keep >1
        # "canonical" row per true cluster — surface it loudly
        import warnings

        warnings.warn(
            f"connected_components exhausted max_iterations="
            f"{max_iterations} before the label fixpoint; labels may "
            f"be unconverged (raise max_iterations — rounds needed = "
            f"graph diameter)",
            RuntimeWarning,
            stacklevel=2,
        )
    # labels are checkpoint-materialized every round, so the edge
    # cache is no longer reachable from the result — release it now
    # (ingest loops must not accumulate per-call caches)
    sym.unpersist()
    return labels.select(
        F.col("__node").alias(id_col), F.col("__label").alias("cluster_id")
    )


def _star_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    max_iterations: int,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014).

    Invariant per round (edge set E over numeric node ids):

    - large-star: for every node u, with neighborhood G(u) over
      symmetric edges and m = min(G(u) + {u}), rewire every STRICTLY
      LARGER neighbor v > u to (v, m). Preserves connectivity, never
      increases the component minimum's distance.
    - small-star: orient every edge (max, min); for every node u with
      smaller-neighbors G-(u) and m = min(G-(u)), emit (v, m) for each
      v in G-(u) - {m} plus (u, m). Collapses local chains onto local
      minima.

    The composition converges to a star forest — one star per original
    component, centered at the component MINIMUM (a center that is not
    the minimum is not a large-star fixpoint), so labels agree exactly
    with the minlabel path. Convergence detection: the edge set is
    monotone toward (child -> root) stars; we stop when a round leaves
    the edge set unchanged (count + order-independent xxhash64
    checksum + one-out-edge-per-child), all computed in a single
    aggregate per round. Every round is two grouped shuffles keyed by
    node id over the current edge set; no step ever materializes a
    neighborhood list (min via groupBy, rewiring via join), so a
    heavy-hitter node costs a skewed join (AQE-splittable), not an
    OOM-sized array.
    """
    e = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev = None
    converged = False
    for _ in range(max_iterations):
        # large-star over the symmetric edge set
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least(F.col("u"), F.col("__mv")).alias("__m"))
        )
        e = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over min-oriented edges
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        omins = oriented.groupBy("u").agg(F.min("v").alias("__m"))
        obs = Observation()
        e = (
            oriented.join(omins, "u")
            .select(F.col("v").alias("__n"), F.col("__m"))
            .union(omins.select(F.col("u").alias("__n"), F.col("__m")))
            .filter(F.col("__n") != F.col("__m"))
            .select(F.col("__n").alias("u"), F.col("__m").alias("v"))
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("chk"),
            )
            .localCheckpoint(eager=True)
        )
        # observed during the checkpoint job — no second pass; the
        # one-edge-per-child forest property is not separately checked
        # because the final labeling aggregates min(v) per child, which
        # is exact at any composition fixpoint
        row = obs.get
        cur = (row["n"], row["chk"])
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        import warnings

        warnings.warn(
            f"star connected_components exhausted max_iterations="
            f"{max_iterations} before the star-forest fixpoint; labels "
            f"may be unconverged (rounds needed = O(log^2 n))",
            RuntimeWarning,
            stacklevel=3,
        )
    # at fixpoint e is (child -> component-min root); min-aggregate per
    # child (exact when the forest property holds, still correct-min if
    # a pathological stable-but-multi-edge state ever slipped through),
    # isolated nodes and roots label themselves
    roots = e.groupBy("u").agg(F.min("v").alias("__root"))
    return (
        nodes.select(F.col(id_col).alias("__node"))
        .join(
            roots.select(F.col("u").alias("__node"), "__root"),
            "__node",
            "left",
        )
        .select(
            F.col("__node").alias(id_col),
            F.coalesce("__root", "__node").alias("cluster_id"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Excise corpus-duplicated spans from every document — the
    REMOVAL form of ``duplicate_spans`` (Lee et al. 2022 deduplicate
    the training data by cutting repeated substrings out, not by
    dropping whole documents): any word covered by at least one
    ``span``-word window that appears in >= ``min_docs`` distinct
    documents is deleted; surviving words keep their order. Documents
    shorter than ``span`` words are untouched; documents that were
    entirely duplicated span text survive with ``text=''`` (stable
    row identity, the ``line_dedup`` convention).

    Plan: positional window hashes per doc (the shifted-slice zip
    with positions — zero shuffle), one document-frequency
    aggregation keyed by the 8-byte window hash, an equi-join of the
    positional windows against the duplicated-hash set, a
    sequence-explode from flagged starts to covered word indices, an
    index anti-join, and one ordered reassembly per doc
    (sorted-struct collect_list). Every shuffle is keyed by window
    hash or doc id and proportional to corpus token count; span
    STRINGS never shuffle — only hashes and integer positions do.
    """
    base, wins = _positional_windows(df, text_col, id_col, span)
    dup = (
        wins.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h")
    )
    return _excise_flagged_windows(
        df, base, wins, dup, text_col, id_col, span
    )


def _positional_windows(df, text_col, id_col, span):
    """(base, wins): per-doc word/word-hash arrays and the exploded
    positional ``span``-word window hashes — the shared front half of
    the span-excision family (shifted-slice zip, zero shuffle)."""
    words = F.split(F.col(text_col), " ")
    wh = F.transform(words, lambda w: F.xxhash64(w))
    base = df.select(F.col(id_col), words.alias("__w"), wh.alias("__wh"))
    c = F.col("__wh")
    nwin = F.greatest(F.size(c) - F.lit(span - 1), F.lit(0))
    sh = F.slice(c, 1, nwin)
    for off in range(1, span):
        nxt = F.slice(c, 1 + off, nwin)
        sh = F.zip_with(sh, nxt, lambda h, w: F.xxhash64(h, w))
    wins = base.select(
        F.col(id_col), F.posexplode(sh).alias("__pos", "__h")
    )
    return base, wins


def _excise_flagged_windows(df, base, wins, bad, text_col, id_col, span):
    """Shared back half: delete every word covered by a window whose
    hash is in ``bad`` (a 1-column ``__h`` frame), rebuild affected
    docs in order. Only affected documents pay the token explode;
    span strings never shuffle — hashes and integer positions do."""
    covered = (
        wins.join(bad, "__h")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.lit(span - 1))
            ).alias("__idx"),
        )
        .distinct()
    )
    # only AFFECTED documents pay the token explode + ordered rebuild;
    # untouched rows (including NULL text) keep their text VERBATIM
    affected = covered.select(id_col).distinct()
    toks = base.join(affected, id_col, "left_semi").select(
        F.col(id_col), F.posexplode("__w").alias("__idx", "__tok")
    )
    kept = toks.join(covered, [id_col, "__idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("__new_text")
    )
    flagged = affected.withColumn("__affected", F.lit(True))
    return (
        df.join(rebuilt, id_col, "left")
        .join(flagged, id_col, "left")
        .withColumn(
            text_col,
            F.when(
                F.col("__affected").isNotNull(),
                F.coalesce("__new_text", F.lit("")),
            ).otherwise(F.col(text_col)),
        )
        .drop("__new_text", "__affected")
    )


def excise_contaminated_spans(
    df: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 8,
) -> DataFrame:
    """Surgical decontamination: instead of DROPPING every document
    that shares a ``span``-word window with the benchmark/eval set
    (``decontaminate``'s whole-document verdict), EXCISE just the
    contaminated spans and keep the rest — the salvage path for long
    documents that quote a benchmark question once (the span-removal
    treatment of Lee et al. 2022 pointed at a cross-corpus index).

    Any corpus word covered by at least one window whose hash appears
    ANYWHERE in the eval set is deleted; surviving words keep order;
    rows stay (a fully-contaminated doc survives as ``text=''`` —
    filter on length downstream if empties should drop). Same plan
    shape as ``remove_duplicate_spans`` with the document-frequency
    aggregation replaced by the eval windows' distinct hash set;
    at 100 TB the eval side is tiny, so that set broadcasts.
    """
    base, wins = _positional_windows(df, text_col, id_col, span)
    _, eval_wins = _positional_windows(eval_df, text_col, id_col, span)
    bad = eval_wins.select("__h").distinct()
    return _excise_flagged_windows(
        df, base, wins, bad, text_col, id_col, span
    )


def _char_shingle_frame(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, sh: array<long>) of distinct hashed character k-grams —
    the short-string (names, titles, addresses) twin of the word
    ``_shingle_frame``, same shifted-slice zip, zero shuffle.
    Lowercased so case differences don't break matches."""
    chars = F.filter(
        F.split(F.lower(F.col(text_col)), ""), lambda c: c != F.lit("")
    )
    ch = F.transform(chars, lambda c: F.xxhash64(c))
    wdf = df.select(F.col(id_col), ch.alias("__ch"))
    c = F.col("__ch")
    nwin = F.greatest(F.size(c) - F.lit(k - 1), F.lit(1))
    sh = F.slice(c, 1, nwin)
    for off in range(1, k):
        nxt = F.slice(c, 1 + off, nwin)
        sh = F.zip_with(sh, nxt, lambda h, w: F.xxhash64(h, w))
    return wdf.select(F.col(id_col), F.array_distinct(sh).alias("sh"))


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    right_text_col: str | None = None,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    unit: str = "word",
    metric: str = "jaccard",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Fuzzy join of TWO corpora by n-gram Jaccard similarity — the
    record-linkage / entity-matching operator (match product titles,
    author names, near-identical passages across two tables). Returns
    ``(a, b, jaccard)`` with ``a`` from ``left``, ``b`` from
    ``right``, one row per pair meeting ``threshold``.

    The cross-corpus form of ``ngram_jaccard_pairs``' inverted-index
    plan: both sides explode their distinct shingles, the join is an
    EQUI-join on the 8-byte shingle hash (a pair sharing zero
    shingles is never generated — exact for any positive threshold),
    the size-compatibility bound ``min < t * max`` prunes inside the
    join filter, and one aggregation per surviving pair counts the
    intersection. ``unit="word"`` shingles word windows (documents);
    ``unit="char"`` shingles character k-grams (short strings — the
    standard entity-matching representation).
    ``metric="containment"`` scores ``|A n B| / |A|`` instead of
    Jaccard — the asymmetric "how much of the LEFT row is inside the
    right row" measure for quote/subset detection, where a short
    passage fully contained in a long document scores 1.0 but a tiny
    Jaccard; containment uses the
    one-sided prune ``nb >= t * na`` (implied by ``inter <= nb``)
    where Jaccard uses the two-sided min/max bound. ``max_doc_freq`` caps
    shingle document frequency across BOTH sides combined before the
    join (capped-universe semantics as in ``ngram_jaccard_pairs``).
    """
    if threshold <= 0:
        raise ValueError(
            "similarity_join requires a positive threshold (the "
            "inverted index is exact for any threshold > 0; an "
            "all-pairs join has no scalable plan)"
        )
    if unit == "word":
        shingler = _shingle_frame
    elif unit == "char":
        shingler = _char_shingle_frame
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    if metric not in ("jaccard", "containment"):
        raise ValueError(
            f"metric must be 'jaccard' or 'containment', got {metric!r}"
        )
    rt = right_text_col or text_col
    sa = shingler(left, text_col, left_id, k).select(
        F.col(left_id).alias("a"), F.col("sh").alias("sh")
    )
    sb = shingler(right, rt, right_id, k).select(
        F.col(right_id).alias("b"), F.col("sh").alias("sh")
    )
    ea = sa.select("a", F.size("sh").alias("na"), F.explode("sh").alias("h"))
    eb = sb.select("b", F.size("sh").alias("nb"), F.explode("sh").alias("h"))
    if max_doc_freq is not None:
        hot = (
            ea.select("h").union(eb.select("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("h")
        )
        ea = ea.join(F.broadcast(hot), "h", "left_anti")
        eb = eb.join(F.broadcast(hot), "h", "left_anti")
        # recompute sizes over the kept vocabulary (capped-universe)
        ea = ea.drop("na").join(
            ea.groupBy("a").agg(F.count(F.lit(1)).alias("na")), "a"
        )
        eb = eb.drop("nb").join(
            eb.groupBy("b").agg(F.count(F.lit(1)).alias("nb")), "b"
        )
    t = float(threshold)
    pairs = ea.join(eb, "h")
    if metric == "jaccard":
        pairs = pairs.filter(
            F.least("na", "nb").cast("double")
            >= F.lit(t) * F.greatest("na", "nb").cast("double")
        )
    else:
        # containment = inter/na and inter <= nb, so nb >= t*na is the
        # valid ONE-SIDED prune — it cuts the pair-count shuffle the
        # same way the two-sided bound does for jaccard
        pairs = pairs.filter(
            F.col("nb").cast("double") >= F.lit(t) * F.col("na").cast("double")
        )
    hits = pairs.groupBy("a", "b", "na", "nb").agg(
        F.count(F.lit(1)).alias("inter")
    )
    if metric == "containment":
        score = F.col("inter").cast("double") / F.col("na")
    else:
        score = F.col("inter").cast("double") / (
            F.col("na") + F.col("nb") - F.col("inter")
        )
    return hits.select(
        "a", "b", F.round(score, 6).alias(metric)
    ).filter(F.col(metric) >= threshold)


def hamming_near_dup_pairs(
    df: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """All id pairs whose ``bits``-wide integer signatures differ in at
    most ``max_hamming`` bit positions — the near-dup join for SimHash
    text signatures and dHash image fingerprints alike.

    Scale shape (the Manku et al. 2007 pigeonhole): the signature is
    cut into ``max_hamming + 1`` disjoint bands, so any pair within
    the distance budget agrees EXACTLY on at least one band. Candidate
    generation is therefore an equi-self-join on (band index, band
    value) — shuffle ∝ corpus x bands, never corpus² — and only
    candidates pay the exact ``bit_count(xor)`` verify. Pairs that
    collide in several bands are deduplicated by the final aggregate.

    Returns ``(a, b, hamming)`` with ``a < b``.
    """
    if max_hamming < 0:
        raise ValueError("max_hamming must be >= 0")
    nb = int(max_hamming) + 1
    if nb > bits:
        raise ValueError("max_hamming + 1 bands cannot exceed bits")
    width = (bits + nb - 1) // nb
    sig = F.col(sig_col).cast("long")
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.shiftrightunsigned(sig, j * width)
                .bitwiseAND(F.lit((1 << min(width, bits - j * width)) - 1))
                .alias("v"),
            )
            for j in range(nb)
        ]
    )
    ex = df.select(
        F.col(id_col).alias("__i"),
        sig.alias("__s"),
        F.explode(bands).alias("b"),
    ).select("__i", "__s", F.col("b.j").alias("__j"), F.col("b.v").alias("__v"))
    left = ex
    right = ex.select(
        F.col("__i").alias("__i2"),
        F.col("__s").alias("__s2"),
        F.col("__j").alias("__j2"),
        F.col("__v").alias("__v2"),
    )
    cand = left.join(
        right,
        (F.col("__j") == F.col("__j2"))
        & (F.col("__v") == F.col("__v2"))
        & (F.col("__i") < F.col("__i2")),
    )
    ham = F.bit_count(F.col("__s").bitwiseXOR(F.col("__s2")))
    return (
        cand.filter(ham <= int(max_hamming))
        .groupBy(
            F.col("__i").alias("a"),
            F.col("__i2").alias("b"),
        )
        .agg(F.min(ham).alias("hamming"))
    )
