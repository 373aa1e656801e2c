"""corpus_dedup: the training-data pipeline's dedup path over a seeded
corpus of sf0.1 size (5,000 documents, 2,000 embeddings). The duplicate
rate sets the candidate volume, and connected components runs eager
rounds while its plan is built. References are the entry's DuckDB
oracle twins over the generated corpus, except for the xxhash64 MinHash
pairs, whose exact Jaccard DuckDB recomputes pair by pair.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from . import gen
from .common import WorkloadBase, count_files

NAME = "corpus_dedup"
# one round. Connected components (clusters) runs eager rounds and is
# dealt once; the write op keeps the decontaminated corpus.
DECK = [
    "minhash", "minhash", "ngram_pairs", "ngram_pairs", "decontaminate",
    "decontaminate", "text_profile", "ann", "clusters", "write_clean",
    "write_clean", "write_clean",
]
WRITES = {"write_clean"}
# op kind -> the entry query whose oracle_sql() twin is its reference
ORACLE = {
    "ngram_pairs": "q39_ngram_jaccard",
    "clusters": "q47_dedup_clusters",
    "decontaminate": "q58_decontaminate",
    "ann": "q40_ann_lsh",
}
DOC_SHARDS = 4
WARMUP_DOCS = 800
MINHASH_THRESHOLD = 0.2  # minhash_lsh_candidates' default
MAX_OVERLAP = 0.5  # write_clean keeps docs sharing at most half their 4-grams
# pipeline.text's token count, quality score and repetition signals
TEXT_PROFILE_SQL = r"""
    WITH w AS (
      SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS ws,
             length(text) AS len,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS punct
      FROM '{docs}'
    ), b AS (
      SELECT *, len(ws) AS n,
             list_transform(generate_series(1, greatest(len(ws) - 1, 1)),
                            i -> concat_ws(' ', ws[i], ws[i+1])) AS bg
      FROM w
    )
    SELECT doc_id,
           n AS n_tok,
           round(0.3 * least(len / 500.0, 1.0)
                 + 0.2 * CASE WHEN alpha::DOUBLE / greatest(n, 1) BETWEEN 3 AND 10
                              THEN 1.0 ELSE 0.5 END
                 + 0.3 * (alpha::DOUBLE / greatest(len, 1))
                 + 0.2 * CASE WHEN punct::DOUBLE / greatest(len, 1) < 0.1
                              THEN 1.0 ELSE 0.3 END, 6) AS quality,
           CAST(n AS BIGINT) AS n_words,
           round(1.0 - len(list_distinct(ws))::DOUBLE / greatest(n, 1), 6)
             AS dup_word_frac,
           round(list_max(list_transform(list_distinct(ws),
                   x -> len(list_filter(ws, y -> y = x))))::DOUBLE
                 / greatest(n, 1), 6) AS top_word_frac,
           round(1.0 - len(list_distinct(bg))::DOUBLE / greatest(len(bg), 1), 6)
             AS dup_bigram_frac
    FROM b
"""


def generate(rng, out_dir) -> None:
    docs = gen.corpus_table(rng)
    gen.write_tables(
        {
            "documents": docs,
            # the warm-up runs every op kind once on this slice: the same
            # code paths and task layout at a fraction of the work
            "warmup_documents": docs.slice(0, WARMUP_DOCS),
            "embeddings": gen.embeddings_table(rng, gen.EMBEDDINGS),
        },
        out_dir,
        # a sharded corpus: one scan task per shard, so narrow per-document
        # ops (text_profile) use the cores
        shards={"documents": DOC_SHARDS, "warmup_documents": DOC_SHARDS},
    )


def _eval_split(d):
    """The entry's q58 split: every twentieth doc is the eval set."""
    return d.filter(F.col("doc_id") % 20 != 0), d.filter(F.col("doc_id") % 20 == 0)


class Workload(WorkloadBase):
    name = NAME
    deck = DECK
    writes = WRITES

    def __init__(self, inputs: str, work: str):
        super().__init__(inputs, work)
        self.docs = os.path.join(inputs, "documents.parquet")
        self.docs_sql = os.path.join(self.docs, "*.parquet")  # DuckDB reads the shards
        # connected components runs on one shard: its reference, the
        # entry's SQL MinHash and transitive closure, is the costliest
        # check, and grows with the documents it covers
        self.shard = os.path.join(self.docs, "part-00000.parquet")
        self.warm_docs = os.path.join(inputs, "warmup_documents.parquet")
        self.emb = os.path.join(inputs, "embeddings.parquet")
        self._oracle: dict[tuple[str, str], pd.DataFrame] = {}
        self._profile: pd.DataFrame | None = None
        self._shingles = False

    def prepare(self, spark) -> None:
        import opencosmo_spark as oc

        oc.open(self.docs).spark_df.count()
        oc.open(self.emb).spark_df.count()

    def warm_params(self, kind: str, rng) -> dict:
        return {"warm": True}

    def run(self, spark, tr, kind: str, p: dict) -> pd.DataFrame:
        import opencosmo_spark as oc

        if kind == "ann":
            from opencosmo_spark.pipeline.similarity import lsh_bucket_ann

            with tr.span("io.open"):
                emb = oc.open(self.emb).spark_df
            # the entry's q40: the query is vector 0, so its oracle twin
            # is the reference
            qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
            with tr.span("pipeline.similarity"):
                df = lsh_bucket_ann(emb, [float(x) for x in qv], k=10, planes=8, seed=7)
            return tr.collect(df)
        with tr.span("io.open"):
            if p.get("warm"):
                d = oc.open(self.warm_docs).spark_df
            else:
                d = oc.open(self.shard if kind == "clusters" else self.docs).spark_df
        if kind == "minhash":
            from opencosmo_spark.pipeline.dedup import minhash_lsh_candidates

            with tr.span("pipeline.dedup"):
                df = minhash_lsh_candidates(d, text_col="text", id_col="doc_id")
            return tr.collect(df)
        if kind == "ngram_pairs":
            from opencosmo_spark.pipeline.dedup import ngram_jaccard_pairs

            with tr.span("pipeline.dedup"):
                df = ngram_jaccard_pairs(d, k=3, threshold=0.5)
            return tr.collect(df)
        if kind == "text_profile":
            from opencosmo_spark.pipeline.text import (
                quality_score,
                repetition_stats,
                token_count,
            )

            with tr.span("pipeline.text"):
                stats = repetition_stats("text")
                df = d.select(
                    "doc_id",
                    token_count("text").alias("n_tok"),
                    quality_score("text").alias("quality"),
                    *[c.alias(name) for name, c in stats.items()],
                )
            return tr.collect(df)
        if kind == "decontaminate":
            from opencosmo_spark.pipeline.decontaminate import ngram_overlap

            with tr.span("pipeline.dedup"):
                df = ngram_overlap(*_eval_split(d), k=4)
            return tr.collect(df)
        if kind == "clusters":
            from opencosmo_spark.pipeline.dedup import (
                connected_components,
                minhash_lsh_candidates,
            )

            # md5 lanes, so the entry's q47 oracle reproduces the clusters
            with tr.span("pipeline.dedup"):
                pairs = minhash_lsh_candidates(
                    d, text_col="text", id_col="doc_id", hasher="md5"
                )
                df = connected_components(pairs, d.select("doc_id"), id_col="doc_id")
            return tr.collect(df)
        if kind == "write_clean":
            from opencosmo_spark import Dataset
            from opencosmo_spark.pipeline.decontaminate import decontaminate

            path = self.out_path("clean")
            with tr.span("pipeline.dedup"):
                clean = decontaminate(*_eval_split(d), k=4, max_frac=MAX_OVERLAP)
            tr.mark_action()
            with tr.span("io.write"):
                oc.write(path, Dataset(clean))
            tr.count("io.files_written", float(count_files(path)))
            with tr.span("io.open"):
                back = oc.open(path)
            return tr.collect(back.spark_df.select("doc_id"))
        raise KeyError(kind)

    def oracle(self, con, query: str, docs: str) -> pd.DataFrame:
        """The entry's DuckDB twin of ``query`` with ``docs`` as its
        documents table."""
        if (query, docs) not in self._oracle:
            import __spark_entry__ as entry

            con.execute(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM '{docs}'")
            con.execute(f"CREATE OR REPLACE VIEW embeddings AS SELECT * FROM '{self.emb}'")
            self._oracle[(query, docs)] = con.sql(entry.oracle_sql()[query]).df()
        return self._oracle[(query, docs)]

    def expected(self, con, kind: str, p: dict) -> pd.DataFrame:
        if kind == "text_profile":
            if self._profile is None:
                self._profile = con.sql(TEXT_PROFILE_SQL.format(docs=self.docs_sql)).df()
            return self._profile
        if kind == "write_clean":
            ov = self.oracle(con, ORACLE["decontaminate"], self.docs_sql)
            return ov.loc[ov["frac"] <= MAX_OVERLAP, ["doc_id"]]
        if kind in ORACLE:
            return self.oracle(con, ORACLE[kind], self.shard if kind == "clusters" else self.docs_sql)
        raise KeyError(kind)

    def check(self, con, kind: str, p: dict, got: pd.DataFrame) -> str | None:
        """MinHash pairs: every pair's exact word-3-shingle Jaccard,
        recomputed by DuckDB, equals the reported one and meets the
        threshold. Other kinds: the reference frame."""
        if kind != "minhash":
            return super().check(con, kind, p, got)
        if not self._shingles:
            con.execute(
                f"""
                CREATE TEMP TABLE sh AS
                SELECT doc_id, list_distinct(list_transform(
                         generate_series(1, greatest(len(ws) - 2, 1)),
                         i -> array_to_string(ws[i:i+2], ' '))) AS sh
                FROM (SELECT doc_id, string_split(text, ' ') AS ws
                      FROM '{self.docs_sql}')
                """
            )
            self._shingles = True
        con.register("got_pairs", got[["a", "b", "jaccard"]])
        good = con.sql(
            f"""
            SELECT count(*) FROM (
              SELECT g.jaccard,
                     round(len(list_intersect(x.sh, y.sh))::DOUBLE
                           / len(list_distinct(x.sh || y.sh)), 6) AS exact
              FROM got_pairs g JOIN sh x ON x.doc_id = g.a
                               JOIN sh y ON y.doc_id = g.b
            ) WHERE exact = jaccard AND exact >= {MINHASH_THRESHOLD}
            """
        ).fetchone()[0]
        con.unregister("got_pairs")
        if not len(got):
            return "no candidate pairs"
        if good != len(got):
            return f"{len(got) - good} of {len(got)} pairs fail the exact Jaccard check"
        return None
