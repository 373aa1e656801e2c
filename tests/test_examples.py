"""The examples must actually run — they are the documented
compositions users copy. Subprocess-isolated (each example owns and
stops its SparkSession).

r15: the nine examples LAUNCH CONCURRENTLY at module setup. They were
serialized before — nine JVM startups plus sf0.001 workloads
back-to-back made this file ~10 of the suite's 41 minutes, and the
driver's verify window truncated mid-suite (VERIFY_r14 tests_ok:false
on a green suite). Each subprocess gets a slice of the host's cores
(SPARK_GRAFT_CPUS) so nine sessions share the machine instead of nine
full-width sessions fighting; every assertion is unchanged — the tests
just read pre-collected outputs. Wall for the module ≈ the slowest
example instead of the sum.
"""

import os
import shutil
import subprocess
import sys
import tempfile

import pytest

# name -> (argv tail, generous per-process timeout, core weight).
# "__TMP__" becomes a module-scoped temp dir (web_pipeline's output
# root). The two longest examples (curation, clustering) get the bigger
# core slice — the module's wall is their runtime; the rest finish
# earlier on less. A weight is the example's cores on a 32-core host;
# each example runs on the same share of this host's cores (at least 1).
_SPECS = {
    "embedding": (["examples/embedding_pipeline.py", "/root/testdata/sf0.001"], 900, 6),
    "curation": (["examples/curation_pipeline.py", "/root/testdata/sf0.001"], 1200, 16),
    "web": (["examples/web_pipeline.py", "__TMP__"], 900, 6),
    "clustering": (["examples/clustering_analysis.py"], 900, 12),
    "lightcone": (["examples/lightcone_analysis.py"], 900, 6),
    "survey": (["examples/survey_statistics.py"], 900, 8),
    "streaming": (["examples/streaming_pipeline.py"], 900, 6),
    "sft": (["examples/sft_pipeline.py", "/root/testdata/sf0.001"], 900, 6),
    "document_media": (["examples/document_media_pipeline.py"], 900, 6),
}


_NPROC = len(os.sched_getaffinity(0))


def _cores(weight: int) -> int:
    return max(1, round(weight * _NPROC / 32))


@pytest.fixture(scope="module")
def example_runs():
    tmp = tempfile.mkdtemp(prefix="web_pipeline_out_")
    procs: dict[str, tuple[subprocess.Popen, int]] = {}
    for name, (tail, timeout, weight) in _SPECS.items():
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(_cores(weight))
        argv = [sys.executable] + [
            a.replace("__TMP__", tmp) for a in tail
        ]
        procs[name] = (
            subprocess.Popen(
                argv,
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
                cwd="/root/repo",
                env=env,
            ),
            timeout,
        )
    results: dict[str, tuple[int | None, str, str]] = {}
    for name, (p, timeout) in procs.items():
        try:
            out, err = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            out, err = p.communicate()
        results[name] = (p.returncode, out, err)
    yield results
    shutil.rmtree(tmp, ignore_errors=True)


def _get(example_runs, name):
    rc, out, err = example_runs[name]
    assert rc == 0, err[-2000:]
    return out


def test_embedding_pipeline_example_runs(example_runs):
    out = _get(example_runs, "embedding")
    assert "pca: kept k=8 axes" in out
    assert "ann top-5:" in out
    assert "semantic dedup:" in out
    assert "index search: top-1" in out
    assert "index append: +" in out
    assert "pooled docs:" in out  # chunk->pool->recall sweep


def test_curation_pipeline_example_runs(example_runs):
    out = _get(example_runs, "curation")
    assert "curation attrition:" in out
    assert "release chain: v1 kept" in out
    assert "perplexity bands:" in out
    assert "classifier:" in out
    assert "calibration: ece=" in out
    assert "| gram | count |" in out  # card n-gram section
    assert "budget mix: 200 survivors" in out  # exact-k reservoir
    assert "bm25 top-5:" in out
    assert "incremental batch:" in out
    assert "profile artifact:" in out  # mergeable card shards
    assert "churn raw->curated:" in out
    assert "overlap sketch jaccard:" in out


def test_web_pipeline_example_runs(example_runs):
    out = _get(example_runs, "web")
    assert "ingested docs: 24" in out
    assert "main-content docs:" in out
    assert "canonical url keys:" in out
    assert "'url_gate': 16" in out
    assert "# Example web corpus" in out
    assert "top host:" in out
    assert "wrote shards: [(0, 8), (1, 8)]" in out


def test_clustering_analysis_example_runs(example_runs):
    out = _get(example_runs, "clustering")
    assert "fof: 12 groups with >= 20 members" in out
    assert "P(k):" in out and "shot noise" in out
    assert "densest center:" in out


def test_lightcone_analysis_example_runs(example_runs):
    out = _get(example_runs, "lightcone")
    assert "lightcone: 4200 objects" in out
    assert "comoving depth:" in out
    assert "3-D pairs within 20 Mpc/h:" in out


def test_survey_statistics_example_runs(example_runs):
    out = _get(example_runs, "survey")
    # the script itself asserts every planted-physics sign (Kaiser
    # xi_2 drop, declining wp, >3-sigma jackknife detection, net
    # infall v12 < 0, mass-marked M > 1, declining DeltaSigma,
    # bounded NFW r_s, b > 1); the sentinel proves it reached the end
    assert "survey statistics complete" in out
    assert "tracer bias: b(k_min)=" in out


def test_streaming_pipeline_example_runs(example_runs):
    out = _get(example_runs, "streaming")
    assert "windowed agg:" in out
    assert "sessions:" in out
    assert "first-arrival" in out
    assert "running stats: 15 users tracked" in out
    # the script itself asserts the sketch's modal kind equals the
    # batch groupBy's; the sentinel proves it got there
    assert "stream profile: 2 batch rows -> card docs=200" in out
    assert "streamed vector retrievable: top-1 for its own query = 60" in out
    assert "all full = True" in out and "ids consecutive = True" in out
    assert "streaming pipeline complete" in out


def test_sft_pipeline_example_runs(example_runs):
    out = _get(example_runs, "sft")
    assert "conversations: 500" in out
    assert "mask check: span slices assistant content = True" in out
    assert "packed:" in out and "oversize=0" in out
    assert "all in-bounds = True" in out
    assert "shared prompt prefix = True" in out
    assert "pair hygiene:" in out
    assert "pretraining blocks:" in out
    assert "tokenizer artifact:" in out


def test_document_media_pipeline_example_runs(example_runs):
    out = _get(example_runs, "document_media")
    assert "pdf ledger" in out
    assert "extracted page images" in out
    assert "General Kenobi!" in out
    # audio section: real PCM row, metadata tier row, lyric document
    assert "mp3-meta" in out
    assert "Twinkle twinkle little star." in out
    assert "id3v2" in out
