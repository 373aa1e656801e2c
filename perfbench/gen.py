"""Seeded input generators for the three workloads.

Every generator takes a ``numpy.random.Generator`` and writes plain
Parquet with pyarrow, so the program under test sees only files. The
same seed gives byte-identical inputs (``checksum`` proves it in the
self-tests).
"""

from __future__ import annotations

import hashlib
import itertools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# halo_catalog: HACC-like halos linked to their particles
# ---------------------------------------------------------------------------
BOX = 128.0  # Mpc/h, periodic
N_HALOS = 30_000
REDSHIFT = 0.25

HALO_UNITS = {
    "fof_halo_mass": "Msun/h",
    "sod_halo_mass": "Msun/h",
    "fof_halo_center_x": "Mpc/h",
    "fof_halo_center_y": "Mpc/h",
    "fof_halo_center_z": "Mpc/h",
    "fof_halo_com_vx": "km/s",
    "fof_halo_com_vy": "km/s",
    "fof_halo_com_vz": "km/s",
    "sod_halo_radius": "Mpc/h",
}
PARTICLE_UNITS = {
    "x": "Mpc/h", "y": "Mpc/h", "z": "Mpc/h",
    "vx": "km/s", "vy": "km/s", "vz": "km/s",
    "mass": "Msun/h",
}


def halo_tables(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    """Halos with log-uniform masses in a periodic box, and particles
    clustered around each halo centre with Zipf-skewed counts (the
    tests/conftest.py model, scaled up)."""
    n = N_HALOS
    mass = 10 ** rng.uniform(11, 15, n)
    center = rng.uniform(0, BOX, (n, 3)).astype(np.float32)
    radius = (np.abs(rng.normal(1.0, 0.3, n)) + 0.05).astype(np.float32)
    halos = pa.table(
        {
            "fof_halo_tag": np.arange(1000, 1000 + n, dtype=np.int64),
            "block": rng.integers(0, 8, n).astype(np.int32),
            "fof_halo_mass": mass.astype(np.float32),
            "sod_halo_mass": np.where(
                rng.uniform(size=n) < 0.8, mass * 0.9, -101.0
            ).astype(np.float32),
            "fof_halo_center_x": center[:, 0],
            "fof_halo_center_y": center[:, 1],
            "fof_halo_center_z": center[:, 2],
            "fof_halo_com_vx": rng.normal(0, 300, n).astype(np.float32),
            "fof_halo_com_vy": rng.normal(0, 300, n).astype(np.float32),
            "fof_halo_com_vz": rng.normal(0, 300, n).astype(np.float32),
            "sod_halo_radius": radius,
        }
    )
    # Zipf-like counts (tail exponent 1.7) from evenly spaced quantiles,
    # dealt to halos in seeded order, a fifth of them empty: every seed
    # gets the same multiset of counts, so the same particle total
    m = n - n // 5
    u = (np.arange(m) + 0.5) / m
    counts = np.clip(np.floor(u ** (-1 / 0.7)) * 4, 0, 2000)
    sizes = rng.permutation(np.concatenate([np.zeros(n - m), counts])).astype(np.int64)
    rep = lambda a: np.repeat(a, sizes)  # noqa: E731
    m = int(sizes.sum())
    r = rep(radius) * 0.5
    xyz = [
        ((rep(center[:, i]) + rng.normal(0, 1, m) * r) % BOX).astype(np.float32)
        for i in range(3)
    ]
    particles = pa.table(
        {
            "halo_tag": rep(halos["fof_halo_tag"].to_numpy()),
            "id": np.arange(m, dtype=np.int64),
            "x": xyz[0],
            "y": xyz[1],
            "z": xyz[2],
            "vx": rng.normal(0, 200, m).astype(np.float32),
            "vy": rng.normal(0, 200, m).astype(np.float32),
            "vz": rng.normal(0, 200, m).astype(np.float32),
            "mass": np.full(m, 1.2e9, dtype=np.float32),
        }
    )
    return halos, particles


# ---------------------------------------------------------------------------
# corpus_dedup: sf0.1-style documents, copied with per-copy substitution,
# and the sf0.1 embeddings
# ---------------------------------------------------------------------------
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
BASE_DOCS = 2500  # two copies: the 5,000 documents of sf0.1
COPIES = 2
NEAR_DUP_FRAC = 0.12
EMBEDDINGS = 2_000  # the sf0.1 fixture's count
VOWELS = "aeiou"


def _base_docs(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of 10 to 100 words. The lengths are evenly spread
    and the near-duplicate count is fixed, dealt in seeded order, so
    every seed yields the same amount of text and of duplication."""
    lengths = rng.permutation(np.linspace(10, 100, n).round().astype(int))
    docs = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # near duplicates, as the sf0.1 fixture injects them: an earlier doc
    # with a few words replaced and a marker word appended. Each copies
    # an original, never another copy, so every duplicate cluster is a
    # star and connected components runs a steady number of rounds.
    dups = np.sort(rng.choice(np.arange(1, n), int(NEAR_DUP_FRAC * n), replace=False))
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        words = docs[int(rng.choice(originals[originals < i]))].split()
        for j in np.flatnonzero(rng.uniform(size=len(words)) < 0.05):
            words[j] = str(rng.choice(VOCAB))
        docs[i] = " ".join(words + ["dup"])
    return docs


def corpus_table(rng: np.random.Generator) -> pa.Table:
    """``COPIES`` id-offset copies of a seeded base corpus. Each copy
    after the first maps the vowels through its own seeded derangement
    (the tools/scale_probe.py method), so copies are not near
    duplicates of each other and the candidate volume grows linearly."""
    base = _base_docs(rng, BASE_DOCS)
    # derangements only: a vowel mapped to itself would leave words
    # unchanged and make the copies near duplicates of each other
    derangements = [
        p for p in itertools.permutations(VOWELS)
        if all(a != b for a, b in zip(p, VOWELS))
    ]
    texts: list[str] = []
    for c in range(COPIES):
        perm = VOWELS if c == 0 else "".join(derangements[rng.integers(len(derangements))])
        table = str.maketrans(VOWELS, perm)
        texts.extend(t.translate(table) for t in base)
    n = len(texts)
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


# ---------------------------------------------------------------------------
# headline_sql: the sf0.1 star schema + events, documents, embeddings
# ---------------------------------------------------------------------------
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = "large hot blue small red green cold bright".split()
PART_NOUN = "ring bolt nut screw gear pipe valve spring".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
STAR_TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The ten tables the headline queries read, with the key ranges and
    value domains of the sf0.1 fixture and its row counts scaled to ``sf``."""
    n_cust, n_ord, n_line = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2499, n_line),
        }
    )
    n_ev = int(1_000_000 * sf)
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_doc = int(50_000 * sf)
    docs = _base_docs(rng, n_doc)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": docs,
            "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
        }
    )
    t["embeddings"] = embeddings_table(rng, int(20_000 * sf))
    return t


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` unit 64-d vectors around ten seeded centres, as in the
    sf0.1 ``embeddings`` fixture."""
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0, 1, (10, 64))
    vec = centres[labels] + rng.normal(0, 1.5, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


def write_tables(
    tables: dict[str, pa.Table], out_dir: str, shards: dict[str, int] | None = None
) -> dict[str, str]:
    """One ``<name>.parquet`` file per table, or a ``<name>.parquet``
    directory of equal part files for a table named in ``shards``;
    returns name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        n = (shards or {}).get(name, 1)
        if n == 1:
            pq.write_table(table, paths[name])
            continue
        os.makedirs(paths[name])
        step = -(-len(table) // n)
        for i in range(n):
            part = table.slice(i * step, step)
            pq.write_table(part, os.path.join(paths[name], f"part-{i:05d}.parquet"))
    return paths


def checksum(tables: dict[str, pa.Table]) -> str:
    """Content hash of generated tables (schema and values, in order)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for batch in tables[name].to_batches():
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as w:
                w.write_batch(batch)
            h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()
