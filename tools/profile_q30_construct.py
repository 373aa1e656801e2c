#!/usr/bin/env python3
"""Break down q30_text_profile's CONSTRUCTION cost (driver-side plan
building, no action) — guide §1 measure-first for the round-15 SQL-text
fold. Prints per-phase wall seconds by monkey-timing the helper entry
points, then a cProfile cumulative summary."""

from __future__ import annotations

import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from opencosmo_spark import get_spark


def timed(label, fn, *a, **k):
    t0 = time.perf_counter()
    out = fn(*a, **k)
    print(f"  {label:32s} {time.perf_counter() - t0:7.3f}s", file=sys.stderr)
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile-q30")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()  # warm JVM

    # wrap the helpers q30 calls so each phase's wall time is visible
    import opencosmo_spark.pipeline.chat as chat
    import opencosmo_spark.pipeline.clean as clean
    import opencosmo_spark.pipeline.lm as lm
    import opencosmo_spark.pipeline.preference as pref
    import opencosmo_spark.pipeline.report as report
    import opencosmo_spark.pipeline.sample as sample
    import opencosmo_spark.pipeline.text as text
    import opencosmo_spark.pipeline.web as web

    targets = [
        (clean, "gopher_quality_flags"),
        (lm, "train_bigram_lm"),
        (lm, "_bigram_frame"),
        (web, "url_features"),
        (web, "url_suffixes"),
        (sample, "cap_per_group"),
        (chat, "render_chat"),
        (pref, "render_preference_pairs"),
        (pref, "filter_preference_pairs"),
        (text, "quality_score"),
        (text, "token_count"),
        (text, "repetition_stats"),
        (clean, "_word_grams_sql"),
        (clean, "_top_gram_mass_sql"),
        (clean, "_dup_gram_mass_sql"),
        (report, "corpus_churn_lanes"),
    ]
    acc: dict[str, float] = {}
    calls: dict[str, int] = {}

    def wrap(mod, name):
        orig = getattr(mod, name)
        key = f"{mod.__name__.split('.')[-1]}.{name}"

        def inner(*a, **k):
            t0 = time.perf_counter()
            out = orig(*a, **k)
            acc[key] = acc.get(key, 0.0) + (time.perf_counter() - t0)
            calls[key] = calls.get(key, 0) + 1
            return out

        setattr(mod, name, inner)
        return orig, mod, name

    saved = [wrap(m, n) for m, n in targets]
    try:
        for rep in range(2):
            t0 = time.perf_counter()
            df = entrymod.queries()["q30_text_profile"](spark, sf_dir)
            total = time.perf_counter() - t0
            print(f"rep {rep}: q30 construction total {total:.3f}s",
                  file=sys.stderr)
            for k in sorted(acc, key=lambda k: -acc[k]):
                print(f"  {k:36s} {acc[k]:7.3f}s x{calls[k]}",
                      file=sys.stderr)
            acc.clear()
            calls.clear()
    finally:
        for orig, mod, name in saved:
            setattr(mod, name, orig)

    # cProfile the whole construction once (helpers restored)
    pr = cProfile.Profile()
    pr.enable()
    entrymod.queries()["q30_text_profile"](spark, sf_dir)
    pr.disable()
    s = io.StringIO()
    pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(30)
    print(s.getvalue(), file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
