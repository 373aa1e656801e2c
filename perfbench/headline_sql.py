"""headline_sql: the 18 headline queries of ``bench.py`` from
``__spark_entry__.queries()``, over seeded tables shaped like the sf0.1
fixture, in seeded order. Ops are short, so Python construction and
Catalyst are a large share. References are the queries' own
``oracle_sql()`` twins run by DuckDB on the same files.
"""

from __future__ import annotations

import os

import pandas as pd

from . import gen
from .common import WorkloadBase, count_files

NAME = "headline_sql"
SF = 0.02
QUERIES = [
    "q01_scan_filter_project", "q08_sort_topk", "q13_zscore", "q15_tpch_q1",
    "q16_degrade", "q21_semi_cascade", "q22_join_nested_agg", "q26_window_topk",
    "q27_window_running", "q28_time_window", "q29_spatial_box",
    "q31_dedup_fingerprint", "q33_cosine_topk", "q35_minhash_lsh",
    "q37_sessionize", "q39_ngram_jaccard", "q40_ann_lsh", "q44_asof_join",
]
# one round: every query once, plus two of them written with oc.write
DECK = QUERIES + ["materialize", "materialize"]
WRITES = {"materialize"}


def generate(rng, out_dir) -> None:
    gen.write_tables(gen.star_tables(rng, SF), out_dir)


class Workload(WorkloadBase):
    name = NAME
    deck = DECK
    writes = WRITES

    def __init__(self, inputs: str, work: str):
        super().__init__(inputs, work)
        self._oracle: dict[str, pd.DataFrame] = {}

    def prepare(self, spark) -> None:
        import __spark_entry__ as entry

        for name in ("lineitem", "orders", "events", "documents", "embeddings"):
            entry._t(spark, self.inputs, name)
        entry.q16_degrade(spark, self.inputs).count()

    def params(self, kind: str, rng) -> dict:
        if kind == "materialize":
            return {"query": str(rng.choice(QUERIES))}
        return {"query": kind}

    def run(self, spark, tr, kind: str, p: dict) -> pd.DataFrame:
        import __spark_entry__ as entry

        with tr.span("entry.query"):
            df = entry.queries()[p["query"]](spark, self.inputs)
        if kind != "materialize":
            return tr.collect(df)
        import opencosmo_spark as oc
        from opencosmo_spark import Dataset

        path = self.out_path("result")
        tr.mark_action()
        with tr.span("io.write"):
            oc.write(path, Dataset(df))
        tr.count("io.files_written", float(count_files(path)))
        with tr.span("io.open"):
            back = oc.open(path)
        return tr.collect(back.spark_df.select(*df.columns))

    def expected(self, con, kind: str, p: dict) -> pd.DataFrame:
        q = p["query"]
        if q not in self._oracle:
            import __spark_entry__ as entry

            if not self._oracle:
                for name in gen.STAR_TABLES:
                    path = os.path.join(self.inputs, f"{name}.parquet")
                    con.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")
            self._oracle[q] = con.sql(entry.oracle_sql()[q]).df()
        return self._oracle[q]

