"""analysis.reduce, halo_mass_function, multimodal plumbing, plugins."""

import numpy as np
import pandas as pd
import pytest

import opencosmo_spark as oc
from opencosmo_spark import analysis, plugins
from opencosmo_spark.pipeline.native_codecs import native_image_ladder

_LADDER_NAMES = {r[0] for r in native_image_ladder()}


def _needs(name):
    """Skip unless the system codec for ``name`` loads on this host —
    each native tier is optional, and its format is lost without it."""
    return pytest.mark.skipif(
        f"{name}-native" not in _LADDER_NAMES,
        reason=f"native {name} codec unavailable",
    )


@pytest.fixture(scope="module")
def halos(spark, fixtures):
    return oc.open(f"{fixtures}/halo_properties")


def test_reduce_histogram(halos):
    def hist(fof_halo_mass):
        h, _ = np.histogram(np.log10(fof_halo_mass), bins=8, range=(11, 15))
        return h

    total = analysis.reduce(halos, hist, operation="sum")
    raw = halos.get_data("numpy")["fof_halo_mass"]
    expected, _ = np.histogram(np.log10(raw), bins=8, range=(11, 15))
    np.testing.assert_array_equal(total.astype(int), expected)


def test_reduce_scalar(halos):
    def total_mass(fof_halo_mass):
        return np.sum(fof_halo_mass, dtype=np.float64)

    s = analysis.reduce(halos, total_mass, operation="sum")
    raw = halos.get_data("numpy")["fof_halo_mass"].astype(np.float64)
    assert s == pytest.approx(raw.sum(), rel=1e-9)


def test_reduce_avg_row_weighted(spark):
    """AVG must weight partials by per-batch row counts (reference
    analysis/mpi.py:142-146), not average the batch means — the two
    differ whenever batches are uneven, which we force here with a
    skewed repartition (1 row vs 999 rows)."""
    from pyspark.sql import functions as F

    from opencosmo_spark.dataset import Dataset

    pdf = pd.DataFrame({"v": np.arange(1000, dtype=np.float64)})
    skew = F.when(F.col("v") == 0, 0).otherwise(1)
    df = spark.createDataFrame(pdf).repartition(2, skew)
    ds = Dataset(df)

    def mean_v(v):
        return np.mean(v, dtype=np.float64)

    got = analysis.reduce(ds, mean_v, operation="avg")
    assert got == pytest.approx(np.arange(1000).mean(), rel=1e-12)


def test_halo_mass_function(halos):
    hmf = analysis.halo_mass_function(halos, bins=8, lo=11, hi=15).toPandas()
    raw = halos.get_data("numpy")["fof_halo_mass"]
    expected, _ = np.histogram(np.log10(raw), bins=8, range=(11, 15))
    got = hmf[(hmf.bin >= 0) & (hmf.bin < 8)].set_index("bin").n
    np.testing.assert_array_equal(
        got.reindex(range(8), fill_value=0).to_numpy(), expected
    )


# ---------------------------------------------------------------------
def _media_frame(n=20):
    rng = np.random.default_rng(3)
    return pd.DataFrame(
        {
            "media_id": np.arange(n, dtype=np.int64),
            "kind": ["image" if i % 2 == 0 else "video" for i in range(n)],
            "payload": [rng.bytes(256) for _ in range(n)],
            "mime": ["image/png" if i % 2 == 0 else "video/mp4" for i in range(n)],
            "width": np.full(n, 64, dtype=np.int32),
            "height": np.full(n, 64, dtype=np.int32),
            "duration_ms": np.where(np.arange(n) % 2 == 0, 0, 3500).astype(np.int64),
        }
    )


def test_multimodal_features(spark):
    from opencosmo_spark.pipeline.multimodal import MEDIA_SCHEMA, decode_image_features

    df = spark.createDataFrame(_media_frame(), MEDIA_SCHEMA)
    out = decode_image_features(df, feature_dim=16).toPandas()
    assert len(out) == 20
    assert all(len(f) == 16 for f in out.features)
    # deterministic: same payload -> same features
    again = decode_image_features(df, feature_dim=16).toPandas()
    a = np.stack(out.sort_values("media_id").features.to_numpy())
    b = np.stack(again.sort_values("media_id").features.to_numpy())
    np.testing.assert_array_equal(a, b)
    assert (out.decoder == "stub-sha256").all()


def test_multimodal_requires_real_codec_raises(spark):
    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
    )

    df = spark.createDataFrame(_media_frame(4), MEDIA_SCHEMA)
    with pytest.raises(NotImplementedError):
        decode_image_features(df, require_real_codec=True)


def test_video_frame_sampling(spark):
    from opencosmo_spark.pipeline.multimodal import MEDIA_SCHEMA, sample_video_frames

    df = spark.createDataFrame(_media_frame(), MEDIA_SCHEMA)
    frames = sample_video_frames(df.filter("kind = 'video'"), every_ms=1000).toPandas()
    # 3500ms at 1000ms -> 3 frames per video, 10 videos
    assert len(frames) == 30
    assert set(frames.frame_idx) == {0, 1, 2}
    assert (frames.t_ms == frames.frame_idx * 1000).all()


def test_media_stats(spark):
    from opencosmo_spark.pipeline.multimodal import MEDIA_SCHEMA, media_stats

    df = spark.createDataFrame(_media_frame(), MEDIA_SCHEMA)
    out = media_stats(df).toPandas().set_index("kind")
    assert out.loc["image", "n"] == 10
    assert out.loc["video", "total_bytes"] == 10 * 256


# ---------------------------------------------------------------------
def test_plugin_hooks(spark, fixtures):
    calls = []

    @plugins.register("dataset_open")
    def on_open(ds):
        calls.append(type(ds).__name__)
        return ds

    try:
        oc.open(f"{fixtures}/halo_properties")
        assert calls == ["Dataset"]
    finally:
        plugins.clear()


def test_plugin_unknown_context():
    with pytest.raises(ValueError):
        plugins.register("bogus")


def test_yt_payload_and_gate(spark, fixtures):
    """yt export (reference analysis/yt_utils.py): the engine-side
    payload (field renames, unit strings, bbox, littleh rejection) is
    real and tested; yt.load_particles itself is import-gated."""
    from opencosmo_spark.analysis import create_yt_dataset, yt_particle_payload

    parts = oc.open(f"{fixtures}/dm_particles")
    halos = oc.open(f"{fixtures}/halo_properties")

    # scalefree (Mpc/h) data must be rejected with the reference's
    # advice to convert to comoving first
    with pytest.raises(RuntimeError, match="comoving"):
        yt_particle_payload({"dm_particles": parts})

    com = parts.with_units("comoving")
    payload, bbox = yt_particle_payload(
        {"dm_particles": com, "halo_properties": halos}
    )
    # non-particle members contribute nothing
    assert all(k[0] == "dm" for k in payload)
    arr, unit = payload[("dm", "particle_position_x")]
    assert unit == "Mpc" and len(arr) == len(com)
    assert payload[("dm", "particle_mass")][1] == "Msun"
    assert payload[("dm", "vx")][1] == "km / s"
    pdf = com.get_data("pandas")
    assert bbox[0][0] == pytest.approx(float(pdf.x.min()))
    assert bbox[2][1] == pytest.approx(float(pdf.z.max()))

    try:
        import yt  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="yt"):
            create_yt_dataset({"dm_particles": com})


def test_approx_stats_error_bounds(spark):
    """Sketch profile: HLL distinct within its rsd band, approx
    percentiles within rank-error of exact, all in ONE job."""
    from opencosmo_spark.analysis import approx_stats

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    out = approx_stats(
        li, ["l_orderkey", "l_quantity"], rsd=0.05
    ).set_index("column")

    exact_d = li.select("l_orderkey").distinct().count()
    got = out.loc["l_orderkey", "approx_distinct"]
    assert abs(got - exact_d) / exact_d < 0.15  # 3x rsd guard band

    n = li.count()
    exact_median = li.selectExpr(
        "percentile(l_quantity, 0.5) AS m"
    ).first()["m"]
    approx_median = out.loc["l_quantity", "p50"]
    # rank error 1/accuracy -> value error bounded by neighborhood;
    # l_quantity is integers 1..50, so within 1 of exact
    assert abs(approx_median - exact_median) <= 1
    assert out.loc["l_quantity", "min"] == 1
    assert out.loc["l_quantity", "count"] == n


def test_dedup_by_clusters_keeps_canonical(spark):
    import pandas as pd

    from opencosmo_spark.pipeline.dedup import dedup_by_clusters

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4, 10, 11, 99], "text": list("abcdefg")})
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3, 10], "b": [2, 3, 4, 11]})
    )
    out = dedup_by_clusters(docs, edges).toPandas()
    assert sorted(out.doc_id) == [1, 10, 99]


def test_media_exact_dedup_real_path(spark):
    """Byte-identical payload dedup is REAL (sha2 over binary, no
    codec): planted copies collapse, keep-first wins."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        media_digest_groups,
        media_exact_dedup,
    )

    base = _media_frame(10)
    dup = base.copy()
    dup["media_id"] = dup["media_id"] + 100  # same payloads, new ids
    df = spark.createDataFrame(pd.concat([base, dup]), MEDIA_SCHEMA)
    groups = media_digest_groups(df).toPandas()
    assert len(groups) == 10  # one digest group per distinct payload
    assert (groups.n_copies == 2).all()
    assert (groups.keep_id < 100).all()  # smallest id survives
    # df-in/df-out: surviving rows carry the full media schema
    out = media_exact_dedup(df).toPandas()
    assert sorted(out.media_id) == sorted(base.media_id)
    assert set(out.columns) == set(base.columns)


def test_media_features_feed_ann(spark):
    """Composition: decoded media features drive the similarity ops —
    an identical payload is its own nearest neighbor at cos 1.0."""
    from pyspark.sql import functions as F

    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
    )
    from opencosmo_spark.pipeline.similarity import brute_force_cosine_topk

    df = spark.createDataFrame(_media_frame(12), MEDIA_SCHEMA)
    feats = decode_image_features(df, feature_dim=16).select(
        F.col("media_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    qv = [float(x) for x in feats.filter(F.col("vec_id") == 4).first()[1]]
    out = brute_force_cosine_topk(feats, qv, k=3).toPandas()
    assert out.vec_id.iloc[0] == 4
    assert out.cos_sim.iloc[0] == 1.0


def _make_bmp(pixels):
    """Minimal uncompressed 24-bit bottom-up BMP from an (h, w, 3) RGB
    uint8 array — pure bytes, no codec library."""
    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    row_size = ((w * 3 + 3) // 4) * 4
    body = bytearray()
    for row in arr[::-1]:  # bottom-up
        line = bytearray()
        for px in row:
            line += bytes([px[2], px[1], px[0]])  # BGR
        line += b"\x00" * (row_size - len(line))
        body += line
    header = bytearray(54)
    header[0:2] = b"BM"
    header[2:6] = (54 + len(body)).to_bytes(4, "little")
    header[10:14] = (54).to_bytes(4, "little")
    header[14:18] = (40).to_bytes(4, "little")
    header[18:22] = w.to_bytes(4, "little")
    header[22:26] = h.to_bytes(4, "little")
    header[26:28] = (1).to_bytes(2, "little")
    header[28:30] = (24).to_bytes(2, "little")
    header[34:38] = len(body).to_bytes(4, "little")
    return bytes(header) + bytes(body)


def test_decode_image_features_real_bmp(spark):
    """The pure-python BMP path decodes ACTUAL pixels: channel means in
    the feature head must match the image, decoder flags 'bmp', and
    non-BMP payloads in the same batch still stub."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
    )

    # 2x2: red, green / blue, white
    img = [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]]
    bmp = _make_bmp(img)
    rows = pd.DataFrame(
        {
            "media_id": [1, 2],
            "kind": ["image", "image"],
            "payload": [bmp, b"not-a-bmp-payload"],
            "mime": ["image/bmp", "application/octet-stream"],
            "width": [2, None],
            "height": [2, None],
            "duration_ms": [None, None],
        }
    )
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = (
        decode_image_features(df, feature_dim=16)
        .toPandas()
        .set_index("media_id")
    )
    assert out.loc[1, "decoder"] == "bmp"
    assert out.loc[2, "decoder"] == "stub-sha256"
    feats = out.loc[1, "features"]
    # head = overall channel means / 255: R=(255+0+0+255)/4, same G, B
    expect = [510 / 4 / 255.0] * 3
    np.testing.assert_allclose(feats[:3], expect, rtol=1e-6)
    # grid g=2 block means follow: block(0,0) is the red pixel
    np.testing.assert_allclose(feats[3:6], [1.0, 0.0, 0.0], atol=1e-6)


def test_decode_image_features_real_pnm(spark):
    """The pure-python PNM path decodes ACTUAL pixels end-to-end: a
    generated P6 PPM and a P5 PGM (with header comment and maxval
    scaling) both produce real channel-mean features and flag 'pnm'."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        _decode_pnm,
        decode_image_features,
    )

    # P6 PPM, 2x2: red, green / blue, white — raster is raw RGB rows
    raster = bytes(
        [255, 0, 0, 0, 255, 0,
         0, 0, 255, 255, 255, 255]
    )
    ppm = b"P6\n# a comment\n2 2\n255\n" + raster
    # P5 PGM, 2x1 grayscale, maxval 100 (values rescale 100 -> 255)
    pgm = b"P5 2 1 100 " + bytes([0, 100])
    want_gray = _decode_pnm(pgm)
    np.testing.assert_array_equal(
        want_gray, np.array([[[0, 0, 0], [255, 255, 255]]], np.uint8)
    )

    rows = pd.DataFrame(
        {
            "media_id": [1, 2, 3],
            "kind": ["image"] * 3,
            "payload": [ppm, pgm, b"P6 bogus"],
            "mime": ["image/x-portable-pixmap",
                     "image/x-portable-graymap", "application/octet-stream"],
            "width": [2, 2, None],
            "height": [2, 1, None],
            "duration_ms": [None, None, None],
        }
    )
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = (
        decode_image_features(df, feature_dim=16)
        .toPandas()
        .set_index("media_id")
    )
    assert out.loc[1, "decoder"] == "pnm"
    assert out.loc[2, "decoder"] == "pnm"
    assert out.loc[3, "decoder"] == "stub-sha256"
    feats = out.loc[1, "features"]
    np.testing.assert_allclose(feats[:3], [510 / 4 / 255.0] * 3, rtol=1e-6)
    np.testing.assert_allclose(feats[3:6], [1.0, 0.0, 0.0], atol=1e-6)
    # the PPM and its BMP twin must featurize identically
    bmp_twin = _make_bmp(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]]
    )
    df2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [9],
                "kind": ["image"],
                "payload": [bmp_twin],
                "mime": ["image/bmp"],
                "width": [2],
                "height": [2],
                "duration_ms": [None],
            }
        ),
        MEDIA_SCHEMA,
    )
    twin = decode_image_features(df2, feature_dim=16).toPandas()
    np.testing.assert_allclose(feats, twin.loc[0, "features"], rtol=1e-6)


def _make_png(
    arr, color_type, row_filters, depth=8, interlace=0, palette=None,
    trns=None,
):
    """Minimal PNG encoder with per-row filter selection — pure stdlib
    (zlib + struct), no codec library. ``arr`` is (h, w, ch) uint8
    with ch matching ``color_type`` (0=gray ch1, 2=RGB ch3, 3=palette
    index ch1, 4=gray+alpha ch2, 6=RGBA ch4). ``palette`` is the
    (n, 3) uint8 PLTE table for color_type 3; ``trns`` optional alpha
    bytes for a tRNS chunk."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    arr = np.asarray(arr, np.uint8)
    h, w, nch = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    raw = bytearray()
    prev = np.zeros(w * nch, np.int32)
    for y in range(h):
        cur = arr[y].reshape(-1).astype(np.int32)
        f = row_filters[y % len(row_filters)]
        filt = cur.copy()
        for i in range(len(cur)):
            a = int(cur[i - nch]) if i >= nch else 0
            b = int(prev[i])
            c = int(prev[i - nch]) if i >= nch else 0
            if f == 1:
                filt[i] = (cur[i] - a) & 0xFF
            elif f == 2:
                filt[i] = (cur[i] - b) & 0xFF
            elif f == 3:
                filt[i] = (cur[i] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[i] = (cur[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(filt.astype(np.uint8))
        prev = cur
    mid = b""
    if palette is not None:
        mid += chunk(b"PLTE", bytes(np.asarray(palette, np.uint8).reshape(-1)))
    if trns is not None:
        mid += chunk(b"tRNS", bytes(trns))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + mid
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@_needs("png")
def test_decode_png_all_filters_numpy_differential():
    """The PNG decoder must invert every scanline filter type
    (None/Sub/Up/Average/Paeth) exactly, for gray / gray+alpha / RGB /
    RGBA, recovering the original pixel array bit-for-bit."""
    from opencosmo_spark.pipeline.native_codecs import decode_png_native

    rng = np.random.default_rng(61)
    for color_type, nch in ((0, 1), (4, 2), (2, 3), (6, 4)):
        img = rng.integers(0, 256, size=(7, 5, nch), dtype=np.uint8)
        # 7 rows cycle through all five filters (and repeat two)
        png = _make_png(img, color_type, row_filters=[0, 1, 2, 3, 4])
        got = decode_png_native(png)
        assert got is not None, f"color_type={color_type} failed to decode"
        if color_type == 0:
            want = np.repeat(img, 3, axis=2)
        elif color_type == 4:
            want = np.repeat(img[..., :1], 3, axis=2)
        else:
            want = img[..., :3]
        np.testing.assert_array_equal(got, want)

    img = rng.integers(0, 256, size=(3, 3, 3), dtype=np.uint8)
    # honest gates: a header CLAIMING 16-bit or Adam7 over 8-bit
    # sequential scanline data comes up short and falls through
    # (None), as do truncated streams and non-PNG bytes
    assert decode_png_native(_make_png(img, 2, [0], depth=16)) is None
    assert decode_png_native(_make_png(img, 2, [0], interlace=1)) is None
    # IEND loss ok
    assert decode_png_native(_make_png(img, 2, [0])[:-12]) is not None
    assert decode_png_native(_make_png(img, 2, [0])[:30]) is None
    assert decode_png_native(b"\x89PNG\r\n\x1a\n" + b"junk" * 20) is None
    assert decode_png_native(b"not a png at all, nope") is None


@_needs("png")
def test_decode_image_features_real_png(spark):
    """End-to-end PNG through decode_image_features: real channel-mean
    features identical to the BMP twin of the same pixels, decoder
    flags 'png-native', corrupt PNGs stub."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
    )

    pixels = [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]]
    png = _make_png(np.array(pixels, np.uint8), 2, row_filters=[1, 4])
    rows = pd.DataFrame(
        {
            "media_id": [1, 2],
            "kind": ["image", "image"],
            "payload": [png, b"\x89PNG\r\n\x1a\ncorrupt"],
            "mime": ["image/png", "image/png"],
            "width": [2, None],
            "height": [2, None],
            "duration_ms": [None, None],
        }
    )
    out = (
        decode_image_features(
            spark.createDataFrame(rows, MEDIA_SCHEMA), feature_dim=16,
        )
        .toPandas()
        .set_index("media_id")
    )
    assert out.loc[1, "decoder"] == "png-native"
    assert out.loc[2, "decoder"] == "stub-sha256"
    feats = out.loc[1, "features"]
    np.testing.assert_allclose(feats[:3], [510 / 4 / 255.0] * 3, rtol=1e-6)
    # identical features to the BMP twin (same pixels, other codec)
    twin = decode_image_features(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "media_id": [9],
                    "kind": ["image"],
                    "payload": [_make_bmp(pixels)],
                    "mime": ["image/bmp"],
                    "width": [2],
                    "height": [2],
                    "duration_ms": [None],
                }
            ),
            MEDIA_SCHEMA,
        ),
        feature_dim=16,
    ).toPandas()
    np.testing.assert_allclose(feats, twin.loc[0, "features"], rtol=1e-6)


def test_no_iterrows_in_multimodal():
    """Plan-template hygiene: the module must not contain per-row
    pandas iteration (the pattern a future real codec would inherit)."""
    import inspect

    import opencosmo_spark.pipeline.multimodal as mm

    assert "iterrows" not in inspect.getsource(mm)


def _wav_bytes(samples: np.ndarray, rate: int, bits: int = 16, nch: int = 1) -> bytes:
    """Minimal RIFF/WAVE PCM writer for fixtures. ``samples`` is
    float in [-1,1], shape (n,) or (n, nch)."""
    if samples.ndim == 1:
        samples = samples[:, None].repeat(nch, axis=1)
    if bits == 16:
        raw = (samples * 32767.0).astype("<i2").tobytes()
    else:
        raw = ((samples * 127.0) + 128).astype(np.uint8).tobytes()
    byte_rate = rate * nch * bits // 8
    fmt = (
        b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + nch.to_bytes(2, "little")
        + rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
        + (nch * bits // 8).to_bytes(2, "little") + bits.to_bytes(2, "little")
    )
    data = b"data" + len(raw).to_bytes(4, "little") + raw
    body = b"WAVE" + fmt + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_decode_audio_features_real_wav(spark):
    from opencosmo_spark.pipeline.multimodal import decode_audio_features

    rate = 8000
    t = np.arange(rate) / rate  # 1 second
    sine = np.sin(2 * np.pi * 440 * t).astype(np.float64)
    rows = [
        (0, "audio", bytearray(_wav_bytes(sine, rate)), "audio/wav", 0, 0, 0),
        (1, "audio", bytearray(_wav_bytes(sine * 0.5, rate, bits=8, nch=2)),
         "audio/wav", 0, 0, 0),
        (2, "audio", bytearray(b"not a wav at all"), "audio/mpeg", 0, 0, 0),
    ]
    from opencosmo_spark.pipeline.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in decode_audio_features(df).collect()}

    # 16-bit mono sine: real decode, features match numpy on the source
    r0 = out[0]
    assert r0["decoder"] == "wav"
    assert r0["sample_rate"] == rate and r0["n_samples"] == rate
    assert r0["audio_duration_ms"] == 1000
    q = np.trunc(sine * 32767) / 32768.0  # astype('<i2') truncates
    assert r0["rms"] == pytest.approx(float(np.sqrt(np.mean(q * q))), rel=1e-6)
    assert r0["peak"] == pytest.approx(float(np.max(np.abs(q))), rel=1e-6)
    # a 440 Hz sine crosses zero ~2*440 times per second
    assert r0["zcr"] == pytest.approx(880 / (rate - 1), rel=0.01)

    # 8-bit stereo: decodes via the same path (mixdown keeps the shape)
    r1 = out[1]
    assert r1["decoder"] == "wav" and r1["sample_rate"] == rate
    assert r1["rms"] == pytest.approx(0.5 / np.sqrt(2), rel=0.05)

    # garbage payload: honest stub, flagged as such
    assert out[2]["decoder"] == "stub-sha256" and out[2]["sample_rate"] == 0


def test_decode_audio_requires_real_codec_raises(spark):
    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_audio_features,
    )

    df = spark.createDataFrame([], MEDIA_SCHEMA)
    with pytest.raises(NotImplementedError):
        decode_audio_features(df, require_real_codec=True)


def test_decode_audio_truncated_wav_falls_to_stub_or_trims(spark):
    """A WAV whose data chunk is cut mid-sample must not crash the
    task — it either trims to whole samples or stubs."""
    from opencosmo_spark.pipeline.multimodal import MEDIA_SCHEMA, decode_audio_features

    good = _wav_bytes(np.sin(np.arange(100) / 10.0), 8000)
    truncated = good[:-1]  # odd byte count in the 16-bit data chunk
    df = spark.createDataFrame(
        [(0, "audio", bytearray(truncated), "audio/wav", 0, 0, 0)], MEDIA_SCHEMA
    )
    row = decode_audio_features(df).collect()[0]
    assert row["decoder"] in ("wav", "stub-sha256")  # no crash is the contract
    if row["decoder"] == "wav":
        assert row["n_samples"] in (99, 100)


def test_fof_and_two_point_dataset_entry(spark, fixtures):
    """Dataset-level FoF / 2PCF: coordinates, box size, and id column
    resolve from the dataset itself; FoF groups halos that sit within
    a linking length of each other."""
    from pyspark.sql import functions as F

    from opencosmo_spark.analysis import fof, two_point

    halos = oc.open(f"{fixtures}/halo_properties")
    labels = fof(halos, linking_length=5.0)
    assert set(labels.columns) == {"fof_halo_tag", "group_id"}
    n = labels.count()
    assert n == len(halos)
    # labels are a valid partition: every group_id is a member id
    ids = {r[0] for r in labels.select("fof_halo_tag").collect()}
    gids = {r[0] for r in labels.select("group_id").distinct().collect()}
    assert gids <= ids

    xi = two_point(halos, [1.0, 5.0, 10.0]).collect()
    assert [r["bin"] for r in xi] == [0, 1]
    assert all(r["dd"] >= 0 and r["rr"] > 0 for r in xi)

    ls = two_point(
        halos, [1.0, 5.0, 10.0], estimator="landy-szalay", n_random=300
    ).collect()
    assert [r["bin"] for r in ls] == [0, 1]
    assert all(r["rr"] >= 0 for r in ls)


def test_hamming_near_dup_pairs_matches_bruteforce(spark):
    """Banded candidate generation must find EXACTLY the pairs within
    the hamming budget (pigeonhole guarantees recall; the verify
    guarantees precision) — checked against all-pairs python."""
    import itertools

    from opencosmo_spark.pipeline.dedup import hamming_near_dup_pairs

    rng = np.random.default_rng(11)
    sigs = [int(x) for x in rng.integers(-(2**63), 2**63 - 1, size=30)]
    # plant near pairs at controlled distances
    sigs[1] = sigs[0] ^ 0b101          # d=2
    sigs[2] = sigs[0] ^ (1 << 40)      # d=1
    sigs[3] = sigs[0] ^ 0b1111         # d=4 (outside budget 3)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], ["doc_id", "sig"]
    )
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in hamming_near_dup_pairs(
            df, sig_col="sig", max_hamming=3
        ).collect()
    }
    want = {}
    for (i, a), (j, b) in itertools.combinations(enumerate(sigs), 2):
        d = bin((a ^ b) & ((1 << 64) - 1)).count("1")
        if d <= 3:
            want[(i, j)] = d
    assert got == want
    assert (0, 1) in got and got[(0, 2)] == 1
    assert (0, 3) not in got


def test_image_dhash_perceptual_invariance(spark):
    """dHash must be identical under uniform brightness shift,
    near-identical under mild noise, and far for unrelated images;
    near-dup pairs come out of the banded join."""
    from opencosmo_spark.pipeline.dedup import hamming_near_dup_pairs
    from opencosmo_spark.pipeline.multimodal import image_dhash

    rng = np.random.default_rng(5)
    base = rng.integers(0, 200, size=(32, 48, 3)).astype(np.uint8)
    brighter = np.clip(base.astype(int) + 40, 0, 255).astype(np.uint8)
    other = rng.integers(0, 255, size=(32, 48, 3)).astype(np.uint8)
    rows = [
        (0, _make_bmp(base)),
        (1, _make_bmp(brighter)),
        (2, _make_bmp(other)),
        (3, b"not an image"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    out = image_dhash(df).toPandas().set_index("doc_id")
    assert set(out.loc[[0, 1, 2], "decoder"]) == {"bmp"}
    assert out.loc[3, "decoder"] == "stub-sha256"
    # uniform brightness shift preserves every inequality -> equal hash
    assert out.loc[0, "dhash"] == out.loc[1, "dhash"]
    d02 = bin((int(out.loc[0, "dhash"]) ^ int(out.loc[2, "dhash"])) & ((1 << 64) - 1)).count("1")
    assert d02 > 10  # unrelated content is far
    pairs = hamming_near_dup_pairs(
        spark.createDataFrame(
            [(i, int(out.loc[i, "dhash"])) for i in range(4)],
            ["doc_id", "dhash"],
        ),
        sig_col="dhash",
        max_hamming=3,
    ).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(0, 1)}


def test_media_near_dedup_collapses_brightness_twins(spark):
    from opencosmo_spark.pipeline.multimodal import media_near_dedup

    rng = np.random.default_rng(9)
    base = rng.integers(0, 200, size=(24, 24, 3)).astype(np.uint8)
    rows = [
        (0, _make_bmp(base)),
        (1, _make_bmp(np.clip(base.astype(int) + 30, 0, 255).astype(np.uint8))),
        (2, _make_bmp(rng.integers(0, 255, size=(24, 24, 3)).astype(np.uint8))),
    ]
    df = spark.createDataFrame(rows, ["media_id", "payload"])
    kept = sorted(r["media_id"] for r in media_near_dedup(df).collect())
    assert kept == [0, 2]  # twin 1 collapses into 0; unrelated 2 stays


def test_power_spectrum_dataset_entry(spark, fixtures):
    """Dataset-level P(k): coordinates and box size resolve from the
    dataset; the spectrum returns positive mode counts and finite
    power with the documented keys."""
    from opencosmo_spark.analysis import power_spectrum

    halos = oc.open(f"{fixtures}/halo_properties")
    out = power_spectrum(halos, n_mesh=16)
    assert set(out) == {"k", "power", "n_modes", "shot_noise"}
    assert (out["n_modes"] > 0).all()
    assert np.isfinite(out["power"]).all()
    assert out["shot_noise"] > 0


def test_pairwise_velocity_and_marked_correlation_dataset_entry(
    spark, fixtures
):
    """Dataset-level v12(r) / M(r): coordinates, velocities, box size,
    and id column resolve from the dataset; loud errors on missing
    velocity/mark columns."""
    from opencosmo_spark.analysis import marked_correlation, pairwise_velocity

    halos = oc.open(f"{fixtures}/halo_properties")
    v12 = pairwise_velocity(
        halos, [0.0, 10.0, 20.0],
        vel_by=("fof_halo_com_vx", "fof_halo_com_vy", "fof_halo_com_vz"),
    ).collect()
    assert [r["bin"] for r in v12] == [0, 1]
    assert all(r["n_pairs"] >= 0 for r in v12)

    mcf = marked_correlation(
        halos, [0.0, 10.0, 20.0], mark_col="fof_halo_mass"
    ).collect()
    assert [r["bin"] for r in mcf] == [0, 1]
    for r in mcf:
        if r["dd"] > 0:
            assert r["mcf"] is not None and r["mcf"] > 0

    with pytest.raises(ValueError, match="velocity columns"):
        pairwise_velocity(halos, [0.0, 10.0])
    with pytest.raises(ValueError, match="no column"):
        marked_correlation(halos, [0.0, 10.0], mark_col="nope")


@_needs("png")
def test_decode_png_palette_numpy_differential():
    """Color-type-3 PNGs resolve index scanlines through PLTE: decoded
    RGB equals palette[idx] bit-for-bit across every filter type; a
    tRNS chunk is tolerated (alpha-dropping convention); missing /
    malformed palettes are honest Nones."""
    from opencosmo_spark.pipeline.native_codecs import decode_png_native

    rng = np.random.default_rng(73)
    palette = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, size=(7, 5, 1), dtype=np.uint8)
    png = _make_png(idx, 3, row_filters=[0, 1, 2, 3, 4], palette=palette)
    got = decode_png_native(png)
    assert got is not None
    np.testing.assert_array_equal(got, palette[idx[..., 0]])

    # tRNS present: same RGB out (alpha dropped like RGBA)
    png_t = _make_png(
        idx, 3, row_filters=[0], palette=palette, trns=bytes([128] * 16)
    )
    np.testing.assert_array_equal(
        decode_png_native(png_t), palette[idx[..., 0]]
    )

    # honest gates: no PLTE, non-multiple-of-3 PLTE
    assert decode_png_native(_make_png(idx, 3, [0])) is None
    assert (
        decode_png_native(
            _make_png(idx, 3, [0], palette=palette.reshape(-1)[:-1])
        )
        is None
    )
    # indices up to 15 overflow an 8-entry table: libpng decodes the
    # indices past the table as black rather than refusing the image
    small = palette[:8]
    padded = np.vstack([small, np.zeros((8, 3), np.uint8)])
    np.testing.assert_array_equal(
        decode_png_native(_make_png(idx, 3, [0], palette=small)),
        padded[idx[..., 0]],
    )


def test_audio_spectral_features_physics_and_twin(spark):
    """Spectral features from real WAV frames: a pure 1 kHz tone
    centers at ~1 kHz with near-zero flatness, white noise is flat
    with a much higher centroid; the scalar outputs equal the numpy
    twin computed directly from the same samples."""
    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        _spectral_stats,
        audio_spectral_features,
    )

    rate = 8000
    t = np.arange(rate) / rate
    tone = np.sin(2 * np.pi * 1000 * t)
    rng = np.random.default_rng(41)
    noise = rng.uniform(-0.9, 0.9, size=rate)
    rows = [
        (0, "audio", bytearray(_wav_bytes(tone, rate)), "audio/wav",
         0, 0, 0),
        (1, "audio", bytearray(_wav_bytes(noise, rate)), "audio/wav",
         0, 0, 0),
        (2, "audio", bytearray(b"junk"), "audio/mpeg", 0, 0, 0),
    ]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["media_id", "kind", "payload", "mime",
                       "width", "height", "duration_ms"]
    ), MEDIA_SCHEMA)
    out = (
        audio_spectral_features(df)
        .toPandas()
        .set_index("media_id")
        .sort_index()
    )

    # physics: tone centered at its frequency, nearly flat-less
    assert abs(out.loc[0, "spectral_centroid"] - 1000) < 60
    assert abs(out.loc[0, "spectral_rolloff"] - 1000) < 60
    assert out.loc[0, "spectral_flatness"] < 0.01
    # noise: much flatter and much broader
    assert out.loc[1, "spectral_flatness"] > 0.3
    assert out.loc[1, "spectral_centroid"] > 1500
    assert out.loc[1, "spectral_bandwidth"] > out.loc[0, "spectral_bandwidth"]
    assert out.loc[0, "decoder"] == "wav"
    # stub path: zeros, flagged
    assert out.loc[2, "decoder"] == "stub-sha256"
    assert out.loc[2, "spectral_centroid"] == 0.0
    assert list(out.loc[2, "band_energies"]) == [0.0] * 16

    # numpy twin on the exact 16-bit-quantized samples the decoder saw
    q = (tone * 32767.0).astype("<i2").astype(np.float64) / 32768.0
    c, b, r, f, e = _spectral_stats(q, rate, 1024, 512, 16, 0.85)
    assert out.loc[0, "spectral_centroid"] == pytest.approx(c, rel=1e-12)
    assert out.loc[0, "spectral_bandwidth"] == pytest.approx(b, rel=1e-12)
    assert out.loc[0, "spectral_rolloff"] == pytest.approx(r, rel=1e-12)
    assert out.loc[0, "spectral_flatness"] == pytest.approx(f, rel=1e-12)
    np.testing.assert_allclose(out.loc[0, "band_energies"], e, rtol=1e-12)
    # the tone's energy concentrates in the band containing 1 kHz
    assert int(np.argmax(e)) == int(
        np.digitize([1000.0], np.geomspace(50.0, rate / 2, 17))[0] - 1
    )


def test_audio_near_dup_via_band_energies(spark):
    """Composition recipe: band_energies from audio_spectral_features
    feed the cosine similarity operators — a duplicated clip (same
    audio, new id) is its twin's nearest neighbor with sim ~1, while
    tone and noise stay far apart."""
    from pyspark.sql import functions as F

    from opencosmo_spark.pipeline import brute_force_cosine_topk
    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        audio_spectral_features,
    )

    rate = 8000
    t = np.arange(rate) / rate
    rng = np.random.default_rng(43)
    clips = {
        0: np.sin(2 * np.pi * 500 * t),
        1: rng.uniform(-0.9, 0.9, size=rate),
        2: np.sin(2 * np.pi * 500 * t),  # exact dup of clip 0
        3: np.sin(2 * np.pi * 2500 * t),
    }
    rows = [
        (i, "audio", bytearray(_wav_bytes(x, rate)), "audio/wav", 0, 0, 0)
        for i, x in clips.items()
    ]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["media_id", "kind", "payload", "mime",
                       "width", "height", "duration_ms"]
    ), MEDIA_SCHEMA)
    feats = audio_spectral_features(df).select(
        F.col("media_id").alias("vec_id"),
        F.col("band_energies").alias("embedding"),
    )
    q = feats.filter("vec_id = 0").first()["embedding"]
    top = brute_force_cosine_topk(feats, list(q), k=2).toPandas()
    assert set(top.vec_id) == {0, 2}  # the clip and its duplicate
    assert (top.cos_sim > 0.9999).all()
    # different content is genuinely distant in band space
    all4 = brute_force_cosine_topk(feats, list(q), k=4).toPandas()
    far = all4[all4.vec_id.isin([1, 3])]
    assert (far.cos_sim < 0.9).all()


def test_audio_near_dedup_collapses_twins(spark):
    """audio_near_dedup: identical recordings under different ids
    collapse to the smallest id; distinct recordings and undecodable
    payloads all survive."""
    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        audio_near_dedup,
    )

    rate = 8000
    t = np.arange(rate) / rate
    rng = np.random.default_rng(47)
    tone = np.sin(2 * np.pi * 700 * t)
    noise = rng.uniform(-0.9, 0.9, size=rate)
    rows = [
        (0, "audio", bytearray(_wav_bytes(tone, rate)), "audio/wav", 0, 0, 0),
        (1, "audio", bytearray(_wav_bytes(noise, rate)), "audio/wav", 0, 0, 0),
        (2, "audio", bytearray(_wav_bytes(tone, rate)), "audio/wav", 0, 0, 0),
        (5, "audio", bytearray(_wav_bytes(tone, rate)), "audio/wav", 0, 0, 0),
        (7, "audio", bytearray(b"not audio"), "audio/mpeg", 0, 0, 0),
    ]
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["media_id", "kind", "payload", "mime",
                       "width", "height", "duration_ms"]
    ), MEDIA_SCHEMA)
    kept = sorted(
        r["media_id"] for r in audio_near_dedup(df).collect()
    )
    # tone copies {0, 2, 5} collapse to 0; noise and the stub survive
    assert kept == [0, 1, 7]


def _filter_pass(sub, row_filters):
    """Filter one (Adam7 pass or whole-image) scanline block: returns
    the raw filtered bytes (1 filter byte + data per line), with the
    'previous line' zeroed at the block start — the PNG rule that
    makes each interlace pass self-contained."""
    h, w, nch = sub.shape
    raw = bytearray()
    prev = np.zeros(w * nch, np.int32)
    for y in range(h):
        cur = sub[y].reshape(-1).astype(np.int32)
        f = row_filters[y % len(row_filters)]
        filt = cur.copy()
        for i in range(len(cur)):
            a = int(cur[i - nch]) if i >= nch else 0
            b = int(prev[i])
            c = int(prev[i - nch]) if i >= nch else 0
            if f == 1:
                filt[i] = (cur[i] - a) & 0xFF
            elif f == 2:
                filt[i] = (cur[i] - b) & 0xFF
            elif f == 3:
                filt[i] = (cur[i] - ((a + b) >> 1)) & 0xFF
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[i] = (cur[i] - pred) & 0xFF
        raw += bytes([f]) + bytes(filt.astype(np.uint8))
        prev = cur
    return bytes(raw)


def _make_png_adam7(arr, color_type, row_filters, palette=None):
    """Adam7-interlaced PNG encoder: seven passes, each filtered
    independently, concatenated into one IDAT stream (PNG spec §8.2)."""
    import struct
    import zlib

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    arr = np.asarray(arr, np.uint8)
    h, w, _nch = arr.shape
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        sub = arr[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        raw += _filter_pass(np.ascontiguousarray(sub), row_filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1)
    mid = b""
    if palette is not None:
        mid += chunk(b"PLTE", bytes(np.asarray(palette, np.uint8).reshape(-1)))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + mid
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@_needs("png")
def test_decode_png_adam7_numpy_differential():
    """Adam7 deinterlacing: bit-exact recovery across color types,
    all five filter types cycling within each pass, and awkward
    dimensions (1xN, Nx1, sizes straddling the 8x8 pass grid)."""
    from opencosmo_spark.pipeline.native_codecs import decode_png_native

    rng = np.random.default_rng(83)
    for color_type, nch in ((0, 1), (4, 2), (2, 3), (6, 4)):
        for h, w in ((13, 11), (8, 8), (1, 9), (9, 1), (3, 3), (16, 5)):
            img = rng.integers(0, 256, size=(h, w, nch), dtype=np.uint8)
            png = _make_png_adam7(img, color_type, row_filters=[0, 1, 2, 3, 4])
            got = decode_png_native(png)
            assert got is not None, (color_type, h, w)
            if color_type == 0:
                want = np.repeat(img, 3, axis=2)
            elif color_type == 4:
                want = np.repeat(img[..., :1], 3, axis=2)
            else:
                want = img[..., :3]
            np.testing.assert_array_equal(got, want, err_msg=f"{color_type} {h}x{w}")

    # palette + Adam7: index scanlines deinterlace, then one gather
    pal = rng.integers(0, 256, size=(7, 3), dtype=np.uint8)
    idx = rng.integers(0, 7, size=(10, 6, 1), dtype=np.uint8)
    png = _make_png_adam7(idx, 3, row_filters=[0, 2], palette=pal)
    got = decode_png_native(png)
    np.testing.assert_array_equal(got, pal[idx[..., 0]])

    # truncated interlaced stream (half the filtered bytes): must
    # return None, not mis-scatter
    import struct
    import zlib

    arr = rng.integers(0, 256, size=(13, 11, 3), dtype=np.uint8)
    full = _make_png_adam7(arr, 2, [0])
    i = full.index(b"IDAT")
    ln = struct.unpack(">I", full[i - 4 : i])[0]
    raw = zlib.decompress(full[i + 4 : i + 4 + ln])
    half = zlib.compress(raw[: len(raw) // 2])

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    trunc = full[: i - 4] + chunk(b"IDAT", half) + chunk(b"IEND", b"")
    assert decode_png_native(trunc) is None


@_needs("png")
def test_decoder_report_counts_stub_rows(spark):
    """decoder_report: the per-format ledger separates real decodes
    from digest stubs (the honest dataset-card accounting for payloads
    no decoder takes, e.g. corrupt JPEGs)."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
        decoder_report,
    )

    png = _make_png(
        np.zeros((2, 2, 3), np.uint8), 2, row_filters=[0]
    )
    ipng = _make_png_adam7(
        np.zeros((2, 2, 3), np.uint8), 2, row_filters=[0]
    )
    rows = pd.DataFrame(
        {
            "media_id": [1, 2, 3, 4],
            "kind": ["image"] * 4,
            "payload": [png, ipng, b"\xff\xd8\xff\xe0 fake jpeg", b"\xff\xd8\xff\xe0 fake2"],
            "mime": ["image/png", "image/png", "image/jpeg", "image/jpeg"],
            "width": [2, 2, None, None],
            "height": [2, 2, None, None],
            "duration_ms": [None] * 4,
        }
    )
    dec = decode_image_features(
        spark.createDataFrame(rows, MEDIA_SCHEMA), feature_dim=8,
    )
    rep = {
        (r["mime"], r["decoder"]): (r["n"], r["frac_of_mime"])
        for r in decoder_report(dec).collect()
    }
    assert rep[("image/png", "png-native")] == (2, 1.0)  # incl. Adam7
    assert rep[("image/jpeg", "stub-sha256")] == (2, 1.0)


def _gif_pack_codes(codes, code_size):
    """LSB-first GIF code packing at a FIXED code size (valid because
    the encoder below clears often enough that the decoder never
    grows past that size)."""
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _make_gif(indices, palette, mcs=4, interlace=False, extra_frame=False,
              with_extensions=True, truncate=False):
    """Hand-built GIF89a: global color table, optional GCE/comment
    extensions, one image block holding ``indices`` (h, w) under the
    classic clear-often 'uncompressed LZW' scheme, optional second
    frame (animation) and interlace flag. Independent of the decoder
    under test."""
    ind = np.asarray(indices, np.uint8)
    h, w = ind.shape
    pal = np.asarray(palette, np.uint8)
    n = len(pal)
    assert n == 1 << mcs
    clear, code_size = 1 << mcs, mcs + 1

    rows = ind
    if interlace:
        order = [
            r
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
            for r in range(start, h, step)
        ]
        rows = ind[np.asarray(order)]  # stream carries pass order
    pix = list(rows.reshape(-1))
    codes = []
    block = (1 << mcs) - 2  # stay below the decoder's size bump
    for i in range(0, len(pix), block):
        codes.append(clear)
        codes.extend(pix[i : i + block])
    codes.append(clear + 1)  # END
    payload = _gif_pack_codes(codes, code_size)

    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | (mcs - 1), 0, 0])  # GCT present, size 2^mcs
    out += bytes(pal.reshape(-1))
    if with_extensions:
        # graphic control + comment extensions must be skipped
        out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        out += b"\x21\xfe\x05hello\x00"
    ipacked = 0x40 if interlace else 0x00
    out += b"\x2c" + b"\x00" * 4
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([ipacked, mcs])
    for i in range(0, len(payload), 255):
        blockb = payload[i : i + 255]
        out += bytes([len(blockb)]) + blockb
    out += b"\x00"
    if truncate:
        return bytes(out[: len(out) - len(payload) // 2])
    if extra_frame:
        # a second, all-zero frame: the decoder must return frame 1
        z = _make_gif(np.zeros_like(ind), pal, mcs=mcs,
                      with_extensions=False)
        img_start = z.index(b"\x2c")
        out += z[img_start:-1]  # its image block, sans trailer
    out += b"\x3b"
    return bytes(out)


@_needs("gif")
def test_decode_gif_numpy_differential():
    """Hand-encoded GIFs (own LZW writer, clear-often scheme) decode
    to exactly palette[indices]: plain, interlaced, multi-frame
    (first frame wins), extension skipping; truncated streams and
    non-GIFs refuse."""
    from opencosmo_spark.pipeline.native_codecs import decode_gif_native

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    ind = rng.integers(0, 16, size=(13, 9), dtype=np.uint8)
    want = pal[ind]

    np.testing.assert_array_equal(decode_gif_native(_make_gif(ind, pal)), want)
    np.testing.assert_array_equal(
        decode_gif_native(_make_gif(ind, pal, interlace=True)), want
    )
    np.testing.assert_array_equal(
        decode_gif_native(_make_gif(ind, pal, extra_frame=True)), want
    )
    # a 1-row image exercises the interlace degenerate case
    one = ind[:1]
    np.testing.assert_array_equal(
        decode_gif_native(_make_gif(one, pal)), pal[one]
    )
    assert decode_gif_native(_make_gif(ind, pal, truncate=True)) is None
    assert decode_gif_native(b"GIF89a" + b"\x00" * 4) is None
    assert decode_gif_native(b"notagif") is None
    assert decode_gif_native(None) is None


@_needs("gif")
def test_decode_gif_real_lzw_compression():
    """A REAL LZW-compressed stream (reference encoder with growing
    code sizes, written here independently) decodes identically —
    exercising dictionary growth, the KwKwK case, and code-size
    bumps that the clear-often scheme never reaches."""
    from opencosmo_spark.pipeline.native_codecs import decode_gif_native

    rng = np.random.default_rng(7)
    # low-entropy stream so LZW actually builds long entries
    seq = bytes(rng.integers(0, 4, size=4000, dtype=np.uint8))
    mcs = 2
    clear, end = 1 << mcs, (1 << mcs) + 1

    # reference GIF-LZW encoder (public algorithm, Welch 1984 + GIF
    # appendix F): emit code for w when w+c leaves the dict
    table = {bytes([i]): i for i in range(clear)}
    next_code, code_size = end + 1, mcs + 1
    codes = [(clear, code_size)]
    w = b""
    for ch in seq:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], code_size))
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            # the decoder adds entries one code LATER, so the encoder
            # bumps at 2^n + 1, not 2^n (the classic GIF off-by-one)
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        w = bytes([ch])
    codes.append((table[w], code_size))
    codes.append((end, code_size))

    acc = nbits = 0
    out = bytearray()
    for c, size in codes:
        acc |= c << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)

    # wrap the stream as the one 80x50 frame of a 4-colour GIF
    w, h = 80, 50
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8
    )
    gif = bytearray(b"GIF89a")
    gif += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    gif += bytes([0x80 | (mcs - 1), 0, 0]) + bytes(pal.reshape(-1))
    gif += b"\x2c" + b"\x00" * 4
    gif += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    gif += bytes([0, mcs])
    for i in range(0, len(out), 255):
        gif += bytes([len(out[i : i + 255])]) + out[i : i + 255]
    gif += b"\x00\x3b"
    got = decode_gif_native(bytes(gif))
    idx = np.frombuffer(seq, np.uint8).reshape(h, w)
    assert got is not None
    np.testing.assert_array_equal(got, pal[idx])


@_needs("gif")
def test_decode_image_features_gif_lane(spark):
    """The Spark ladder takes the gif path and the features equal the
    numpy twin of the decoded pixels."""
    from opencosmo_spark.pipeline.multimodal import (
        _pixel_features,
        decode_image_features,
    )
    from opencosmo_spark.pipeline.native_codecs import decode_gif_native

    rng = np.random.default_rng(23)
    pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
    payloads = [
        _make_gif(
            rng.integers(0, 16, size=(10, 7), dtype=np.uint8), pal
        )
        for _ in range(4)
    ] + [b"junk-not-an-image"]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    out = decode_image_features(df, feature_dim=16).toPandas()
    decs = dict(zip(out.media_id, out.decoder))
    assert all(decs[i] == "gif-native" for i in range(4))
    assert decs[4] == "stub-sha256"
    feats = dict(zip(out.media_id, out.features))
    for i in range(4):
        want = _pixel_features(decode_gif_native(payloads[i]), 16)
        np.testing.assert_allclose(feats[i], want, rtol=1e-6)


# --- baseline JPEG differential: independent encoder twin -----------

def _jpeg_twin_tables(symbols_used):
    """Minimal valid canonical Huffman table over the symbols a scan
    actually uses: every symbol at the same code length L (smallest L
    with 2**L > n, so the all-ones code is never assigned). Returns
    (counts16, symbol_list, {sym: (code, L)})."""
    syms = sorted(symbols_used)
    n = len(syms)
    L = max(2, (n + 1).bit_length())
    counts = [0] * 16
    counts[L - 1] = n
    codes = {s: (i, L) for i, s in enumerate(syms)}
    return counts, syms, codes


class _JpegTwinWriter:
    """MSB-first bit emitter with 0xFF00 stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def pad(self):
        while self.n:
            self.put(1, 1)


_TWIN_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_TWIN_QL = np.array([
    [16, 11, 10, 16, 24, 40, 51, 61],
    [12, 12, 14, 19, 26, 58, 60, 55],
    [14, 13, 16, 24, 40, 57, 69, 56],
    [14, 17, 22, 29, 51, 87, 80, 62],
    [18, 22, 37, 56, 68, 109, 103, 77],
    [24, 35, 55, 64, 81, 104, 113, 92],
    [49, 64, 78, 87, 103, 121, 120, 101],
    [72, 92, 95, 98, 112, 100, 103, 99],
])
_TWIN_QC = np.array([
    [17, 18, 24, 47, 99, 99, 99, 99],
    [18, 21, 26, 66, 99, 99, 99, 99],
    [24, 26, 56, 99, 99, 99, 99, 99],
    [47, 66, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
    [99, 99, 99, 99, 99, 99, 99, 99],
])

_TWIN_A = np.array([
    [
        (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
        * np.cos((2 * x + 1) * u * np.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])


def _twin_cat(v):
    """DC/AC magnitude category + appended bits (T.81 F.1.2.1)."""
    if v == 0:
        return 0, 0
    t = int(abs(v)).bit_length()
    bits = v if v > 0 else v + (1 << t) - 1
    return t, bits


def _twin_quantize(rgb, subsample=False, gray=False):
    """Shared twin front half: colorspace, subsample, pad, forward
    DCT, Annex-K quantization. Returns (h, w, samp, qts, qt_of,
    grids, expect) where grids[ci][by, bx] is the quantized 8x8 block
    and expect is the encoder's own reconstruction — identical
    whichever scan script (baseline or progressive) later emits the
    coefficients."""
    h, w = rgb.shape[:2]
    if gray:
        planes = [rgb[..., 0].astype(np.float64)]
        samp = [(1, 1)]
    else:
        r = rgb[..., 0].astype(np.float64)
        g = rgb[..., 1].astype(np.float64)
        b = rgb[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]
        planes = [y, cb, cr]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    comp_planes = []
    for pl, (sh, sv) in zip(planes, samp):
        ph, pw = mcuy * vmax * 8, mcux * hmax * 8
        pad = np.zeros((ph, pw))
        pad[:h, :w] = pl
        pad[h:, :w] = pl[h - 1, :]
        pad[:h, w:] = pl[:, w - 1][:, None]
        pad[h:, w:] = pl[h - 1, w - 1]
        if sh != hmax or sv != vmax:
            fy, fx = vmax // sv, hmax // sh
            pad = pad.reshape(ph // fy, fy, pw // fx, fx).mean((1, 3))
        comp_planes.append(pad)

    qts = [_TWIN_QL] + ([_TWIN_QC] if not gray else [])
    qt_of = [0] + [1] * (len(planes) - 1)

    grids = []
    recon = [np.zeros_like(p) for p in comp_planes]
    for ci, (sh, sv) in enumerate(samp):
        g_ = np.zeros((mcuy * sv, mcux * sh, 64), np.int64)
        q = qts[qt_of[ci]]
        for by in range(mcuy * sv):
            for bx in range(mcux * sh):
                blk = comp_planes[ci][
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] - 128.0
                Fq = _TWIN_A @ blk @ _TWIN_A.T
                qc = np.rint(Fq / q).astype(np.int64)
                g_[by, bx] = qc.flatten()
                rec = _TWIN_A.T @ (qc * q).astype(np.float64) @ _TWIN_A
                recon[ci][
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] = rec + 128.0
        grids.append(g_)

    ups = []
    for rc, (sh, sv) in zip(recon, samp):
        if sh != hmax or sv != vmax:
            rc = np.repeat(np.repeat(rc, vmax // sv, 0), hmax // sh, 1)
        ups.append(rc[:h, :w])
    if gray:
        gplane = np.clip(np.rint(ups[0]), 0, 255).astype(np.uint8)
        expect = np.repeat(gplane[..., None], 3, axis=2)
    else:
        yy, cbb, crr = ups
        rr = yy + 1.402 * (crr - 128.0)
        gg = yy - 0.344136 * (cbb - 128.0) - 0.714136 * (crr - 128.0)
        bb = yy + 1.772 * (cbb - 128.0)
        expect = np.clip(
            np.rint(np.stack([rr, gg, bb], -1)), 0, 255
        ).astype(np.uint8)
    return h, w, samp, qts, qt_of, grids, expect


def _assert_idct_close(got, expect):
    """JPEG decode is not bit-specified (T.81 allows IDCT tolerance):
    libjpeg's fixed-point islow IDCT may differ from the twin's exact
    float reconstruction by a few counts per sample. The bound is
    tight enough to catch any structural bug (wrong plane, wrong
    upsample, wrong color matrix land >50 off)."""
    assert got is not None, "decoder rejected a valid JPEG"
    assert got.shape == expect.shape
    d = np.abs(got.astype(int) - expect.astype(int))
    assert d.max() <= 32 and d.mean() < 1.0, (d.max(), d.mean())


def _make_jpeg(rgb, subsample=False, restart=0, gray=False):
    """Independent baseline-JPEG encoder (test twin): forward DCT,
    Annex-K quant tables, per-scan minimal canonical Huffman tables,
    optional 4:2:0 subsampling and restart intervals. Returns
    (jpeg_bytes, expected_rgb) where expected_rgb is the encoder's
    own reconstruction of its quantized coefficients."""
    h, w, samp, qts, qt_of, grids, expect = _twin_quantize(
        rgb, subsample=subsample, gray=gray
    )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = samp  # component count

    # MCU-order block list for the sequential scan
    blocks = []  # (comp, quantized 8x8)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (sh, sv) in enumerate(samp):
                for v in range(sv):
                    for u in range(sh):
                        blocks.append(
                            (ci, grids[ci][my * sv + v, mx * sh + u]
                             .reshape(8, 8))
                        )

    # symbol collection for Huffman tables (one DC + one AC table set
    # for luma [comp 0], one set for chroma [comps 1..])
    def tset(ci):
        return 0 if ci == 0 else 1

    ntab = 1 if gray else 2
    dc_syms = [set() for _ in range(ntab)]
    ac_syms = [set() for _ in range(ntab)]

    def block_symbols(ci, qc, pred):
        zz = qc.flatten()[_TWIN_ZZ]
        t, _ = _twin_cat(int(zz[0]) - pred)
        dc_syms[tset(ci)].add(t)
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                ac_syms[tset(ci)].add(0xF0)
                run -= 16
            s, _ = _twin_cat(int(zz[k]))
            ac_syms[tset(ci)].add((run << 4) | s)
            run = 0
        if run:
            ac_syms[tset(ci)].add(0x00)
        return int(zz[0])

    preds = [0] * len(planes)
    mcu_blocks = len(blocks) // (mcux * mcuy)
    i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and (my * mcux + mx) and (my * mcux + mx) % restart == 0:
                preds = [0] * len(planes)
            for _ in range(mcu_blocks):
                ci, qc = blocks[i]
                preds[ci] = block_symbols(ci, qc, preds[ci])
                i += 1
    for s in ac_syms:
        s.add(0x00)  # EOB always representable

    dc_tabs = [_jpeg_twin_tables(s) for s in dc_syms]
    ac_tabs = [_jpeg_twin_tables(s) for s in ac_syms]

    # pass 2: emit the entropy stream
    wtr = _JpegTwinWriter()
    preds = [0] * len(planes)
    i = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            m = my * mcux + mx
            if restart and m and m % restart == 0:
                wtr.pad()
                wtr.out += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                preds = [0] * len(planes)
            for _ in range(mcu_blocks):
                ci, qc = blocks[i]
                i += 1
                zz = qc.flatten()[_TWIN_ZZ]
                dcodes = dc_tabs[tset(ci)][2]
                acodes = ac_tabs[tset(ci)][2]
                t, bits = _twin_cat(int(zz[0]) - preds[ci])
                preds[ci] = int(zz[0])
                c, L = dcodes[t]
                wtr.put(c, L)
                if t:
                    wtr.put(bits, t)
                run = 0
                for k in range(1, 64):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, L = acodes[0xF0]
                        wtr.put(c, L)
                        run -= 16
                    s, bits = _twin_cat(int(zz[k]))
                    c, L = acodes[(run << 4) | s]
                    wtr.put(c, L)
                    if s:
                        wtr.put(bits, s)
                    run = 0
                if run:
                    c, L = acodes[0x00]
                    wtr.put(c, L)
    wtr.pad()

    # headers
    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    for tid, q in enumerate(qts):
        seg(0xDB, bytes([tid]) + bytes(int(q.flatten()[z]) for z in _TWIN_ZZ))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(len(planes))
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qt_of[ci]])
    seg(0xC0, bytes(sof))
    for cls, tabs in ((0, dc_tabs), (1, ac_tabs)):
        for tid, (counts, syms, _) in enumerate(tabs):
            seg(0xC4, bytes([(cls << 4) | tid]) + bytes(counts) + bytes(syms))
    if restart:
        seg(0xDD, restart.to_bytes(2, "big"))
    sos = bytearray([len(planes)])
    for ci in range(len(planes)):
        sos += bytes([ci + 1, (tset(ci) << 4) | tset(ci)])
    sos += bytes([0, 63, 0])
    seg(0xDA, bytes(sos))
    out.extend(wtr.out)
    out.extend(b"\xff\xd9")

    return bytes(out), expect


@_needs("jpeg")
@pytest.mark.parametrize(
    "shape,subsample,restart,gray",
    [
        ((16, 24), False, 0, True),     # grayscale, exact MCU grid
        ((13, 20), False, 0, False),    # 4:4:4, ragged edges
        ((29, 35), True, 0, False),     # 4:2:0, ragged edges
        ((16, 32), True, 2, False),     # restart interval
    ],
)
def test_decode_jpeg_differential(shape, subsample, restart, gray):
    """Baseline-JPEG decode vs the independent encoder twin: the
    decoded pixels equal the encoder's reconstruction of its own
    quantized coefficients within the IDCT tolerance."""
    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native

    rng = np.random.default_rng(sum(shape) + restart)
    h, w = shape
    # smooth-ish content: random low-frequency field, so quantized
    # coefficients exercise DC, low AC, runs, and ZRL paths
    base = rng.integers(0, 256, (4, 4, 3)).astype(np.float64)
    img = np.clip(
        np.rint(
            np.kron(base, np.ones(((h + 3) // 4, (w + 3) // 4, 1)))[
                :h, :w
            ]
            + rng.normal(0, 12, (h, w, 3))
        ),
        0,
        255,
    ).astype(np.uint8)
    payload, expect = _make_jpeg(
        img, subsample=subsample, restart=restart, gray=gray
    )
    _assert_idct_close(decode_jpeg_native(payload), expect)


@_needs("jpeg")
def test_decode_jpeg_gates_progressive_and_garbage():
    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native

    img = np.full((8, 8, 3), 77, np.uint8)
    payload, _ = _make_jpeg(img)
    # flip SOF0 -> SOF2: the stream is then MALFORMED progressive
    # (a full-band Ss=0,Se=63 scan is illegal in a progressive frame)
    # and must be rejected, not misparsed
    prog = bytearray(payload)
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    assert decode_jpeg_native(bytes(prog)) is None
    assert decode_jpeg_native(b"\xff\xd8\xff\xe0 fake jpeg") is None
    assert decode_jpeg_native(b"") is None
    assert decode_jpeg_native(None) is None
    assert decode_jpeg_native(payload[:40]) is None  # truncated header


@_needs("jpeg")
def test_decode_image_features_real_jpeg(spark):
    """The mapInPandas ladder decodes baseline JPEG rows with the real
    codec ('jpeg-native') and decoder_report flips image/jpeg off the
    stub."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        MEDIA_SCHEMA,
        decode_image_features,
        decoder_report,
    )

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 16, 3)).astype(np.uint8)
    good, expect = _make_jpeg(img, subsample=True)
    rows = pd.DataFrame(
        {
            "media_id": [1, 2],
            "kind": ["image", "image"],
            "payload": [good, b"\xff\xd8\xff\xe0 not a real jpeg"],
            "mime": ["image/jpeg", "image/jpeg"],
            "width": [16, None],
            "height": [16, None],
            "duration_ms": [None, None],
        }
    )
    dec = decode_image_features(
        spark.createDataFrame(rows, MEDIA_SCHEMA), feature_dim=8,
    )
    got = {r["media_id"]: r for r in dec.collect()}
    assert got[1]["decoder"] == "jpeg-native"
    assert got[2]["decoder"] == "stub-sha256"
    # features are the real pixel features of the decoded image
    from opencosmo_spark.pipeline.multimodal import _pixel_features

    np.testing.assert_allclose(
        got[1]["features"], _pixel_features(expect, 8), rtol=2e-2, atol=2e-2
    )
    rep = {
        (r["mime"], r["decoder"]): r["n"]
        for r in decoder_report(dec).collect()
    }
    assert rep[("image/jpeg", "jpeg-native")] == 1
    assert rep[("image/jpeg", "stub-sha256")] == 1


class _ProgTwin:
    """Independent PROGRESSIVE-JPEG encoder (test twin, T.81 annex G /
    the public libjpeg jcphuff.c logic): emits the same quantized
    coefficients as the baseline twin through a spectral-selection +
    successive-approximation scan script. Two-pass per scan: collect
    symbol frequencies for the minimal canonical tables, then emit."""

    def __init__(self, grids, samp, ss_geo):
        self.grids = grids      # per-comp (bh, bw, 64) int64
        self.samp = samp
        self.ss_geo = ss_geo    # per-comp non-interleaved (nih, niw)

    # ---- per-scan symbol/bit streams -------------------------------

    def dc_first(self, comps, al, sink):
        """Interleaved DC first scan: category symbols per component
        table set; sink(tset, 'sym'|'bits', value, nbits)."""
        samp = self.samp
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        bh = self.grids[0].shape[0] // samp[0][1]  # mcuy
        bw = self.grids[0].shape[1] // samp[0][0]  # mcux
        pred = [0] * len(comps)
        for my in range(bh):
            for mx in range(bw):
                for ci in comps:
                    sh, sv = samp[ci]
                    for v in range(sv):
                        for u in range(sh):
                            c0 = int(
                                self.grids[ci][my * sv + v, mx * sh + u, 0]
                            )
                            pt = c0 >> al  # arithmetic shift (T.81 DC)
                            diff = pt - pred[ci]
                            pred[ci] = pt
                            t, bits = _twin_cat(diff)
                            sink(0 if ci == 0 else 1, "sym", t, 0)
                            if t:
                                sink(0 if ci == 0 else 1, "bits", bits, t)

    def dc_refine(self, comps, al, sink):
        samp = self.samp
        bh = self.grids[0].shape[0] // samp[0][1]
        bw = self.grids[0].shape[1] // samp[0][0]
        for my in range(bh):
            for mx in range(bw):
                for ci in comps:
                    sh, sv = samp[ci]
                    for v in range(sv):
                        for u in range(sh):
                            c0 = int(
                                self.grids[ci][my * sv + v, mx * sh + u, 0]
                            )
                            sink(None, "bits", (c0 >> al) & 1, 1)

    def ac_first(self, ci, ss, se, al, sink):
        """Non-interleaved AC first scan with cross-block EOB runs."""
        tbl = 0 if ci == 0 else 1
        nih, niw = self.ss_geo[ci]
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                sink(tbl, "sym", r << 4, 0)
                if r:
                    sink(tbl, "bits", eobrun - (1 << r), r)
                eobrun = 0

        for by in range(nih):
            for bx in range(niw):
                blk = self.grids[ci][by, bx]
                vals = []
                for k in range(ss, se + 1):
                    c = int(blk[_TWIN_ZZ[k]])
                    mag = (-((-c) >> al)) if c < 0 else (c >> al)
                    vals.append(mag)
                if not any(vals):
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                r = 0
                last_nz = max(i for i, v in enumerate(vals) if v)
                for i, v in enumerate(vals):
                    if i > last_nz:
                        break
                    if v == 0:
                        r += 1
                        continue
                    while r > 15:
                        sink(tbl, "sym", 0xF0, 0)
                        r -= 16
                    t, bits = _twin_cat(v)
                    sink(tbl, "sym", (r << 4) | t, 0)
                    sink(tbl, "bits", bits, t)
                    r = 0
                if last_nz < len(vals) - 1:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()

    def ac_refine(self, ci, ss, se, al, sink):
        """Non-interleaved AC refinement (jcphuff encode_mcu_AC_refine):
        newly-nonzero coefficients as (run<<4)|1 + sign, correction
        bits for history-nonzero coefficients buffered after the next
        symbol (or with the pending EOB run)."""
        tbl = 0 if ci == 0 else 1
        nih, niw = self.ss_geo[ci]
        eobrun = 0
        be_bits: list[int] = []   # corrections riding the EOB run

        def flush_eob():
            nonlocal eobrun, be_bits
            if eobrun:
                r = eobrun.bit_length() - 1
                sink(tbl, "sym", r << 4, 0)
                if r:
                    sink(tbl, "bits", eobrun - (1 << r), r)
                for b in be_bits:
                    sink(tbl, "bits", b, 1)
                eobrun = 0
                be_bits = []

        for by in range(nih):
            for bx in range(niw):
                blk = self.grids[ci][by, bx]
                absv = []
                for k in range(ss, se + 1):
                    c = int(blk[_TWIN_ZZ[k]])
                    absv.append((abs(c)) >> al)
                eob = -1
                for i, v in enumerate(absv):
                    if v == 1:
                        eob = i
                r = 0
                br: list[int] = []
                for i, v in enumerate(absv):
                    if v == 0:
                        r += 1
                        continue
                    while r > 15 and i <= eob:
                        flush_eob()
                        sink(tbl, "sym", 0xF0, 0)
                        r -= 16
                        for b in br:
                            sink(tbl, "bits", b, 1)
                        br = []
                    if v > 1:
                        br.append(v & 1)
                        continue
                    flush_eob()
                    sink(tbl, "sym", (r << 4) | 1, 0)
                    c = int(blk[_TWIN_ZZ[ss + i]])
                    sink(tbl, "bits", 1 if c > 0 else 0, 1)
                    for b in br:
                        sink(tbl, "bits", b, 1)
                    br = []
                    r = 0
                if r > 0 or br:
                    eobrun += 1
                    be_bits.extend(br)
                    if eobrun == 0x7FFF:
                        flush_eob()
        flush_eob()


def _make_jpeg_progressive(rgb, subsample=False, gray=False):
    """Progressive twin: same _twin_quantize coefficients as the
    baseline twin, emitted as a DC-first + spectral-band AC-first +
    one-bit successive-approximation refinement scan script. Returns
    (jpeg_bytes, expected_rgb)."""
    h, w, samp, qts, qt_of, grids, expect = _twin_quantize(
        rgb, subsample=subsample, gray=gray
    )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    ss_geo = []
    for sh, sv in samp:
        sw = -(-(w * sh) // hmax)
        svh = -(-(h * sv) // vmax)
        ss_geo.append((-(-svh // 8), -(-sw // 8)))
    tw = _ProgTwin(grids, samp, ss_geo)
    ncomp = len(samp)
    comps = list(range(ncomp))

    # scan script: DC first (Al=1) -> per-comp AC bands (Al=1) ->
    # DC refine -> per-comp AC refines (Ah=1, Al=0)
    script = [("dcf", comps, 0, 0, 0, 1)]
    for ci in comps:
        script.append(("acf", [ci], 1, 5, 0, 1))
        script.append(("acf", [ci], 6, 63, 0, 1))
    script.append(("dcr", comps, 0, 0, 1, 0))
    for ci in comps:
        script.append(("acr", [ci], 1, 5, 1, 0))
        script.append(("acr", [ci], 6, 63, 1, 0))

    def run_scan(kind, sc, ss, se, ah, al, sink):
        if kind == "dcf":
            tw.dc_first(sc, al, sink)
        elif kind == "dcr":
            tw.dc_refine(sc, al, sink)
        elif kind == "acf":
            tw.ac_first(sc[0], ss, se, al, sink)
        else:
            tw.ac_refine(sc[0], ss, se, al, sink)

    # pass 1: symbol sets per table (class, tset)
    sym_sets: dict[tuple[int, int], set] = {}
    for kind, sc, ss, se, ah, al in script:
        cls = 0 if kind.startswith("dc") else 1

        def collect(tset, typ, val, nb, cls=cls):
            if typ == "sym" and tset is not None:
                sym_sets.setdefault((cls, tset), set()).add(val)

        run_scan(kind, sc, ss, se, ah, al, collect)
    tabs = {
        key: _jpeg_twin_tables(syms) for key, syms in sym_sets.items()
    }

    # pass 2: emit
    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    for tid, q in enumerate(qts):
        seg(0xDB, bytes([tid]) + bytes(int(q.flatten()[z]) for z in _TWIN_ZZ))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(ncomp)
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qt_of[ci]])
    seg(0xC2, bytes(sof))
    for (cls, tid), (counts, syms, _codes) in sorted(tabs.items()):
        seg(0xC4, bytes([(cls << 4) | tid]) + bytes(counts) + bytes(syms))

    for kind, sc, ss, se, ah, al in script:
        cls = 0 if kind.startswith("dc") else 1
        sos = bytearray([len(sc)])
        for ci in sc:
            t = 0 if ci == 0 else 1
            # DC refinement scans read no table; point both at 0
            td = t if cls == 0 and kind == "dcf" else (0 if cls == 0 else t)
            ta = t if cls == 1 else 0
            sos += bytes([ci + 1, (td << 4) | ta])
        sos += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, bytes(sos))
        wtr = _JpegTwinWriter()

        def emit(tset, typ, val, nb, cls=cls, wtr=wtr):
            if typ == "sym":
                code, ln = tabs[(cls, tset)][2][val]
                wtr.put(code, ln)
            else:
                wtr.put(val, nb)

        run_scan(kind, sc, ss, se, ah, al, emit)
        wtr.pad()
        out.extend(wtr.out)
    out.extend(b"\xff\xd9")
    return bytes(out), expect


@_needs("jpeg")
@pytest.mark.parametrize(
    "shape,subsample,gray",
    [
        ((16, 24), False, True),     # grayscale, exact grid
        ((13, 20), False, False),    # 4:4:4, ragged edges
        ((29, 35), True, False),     # 4:2:0, ragged edges
    ],
)
def test_decode_jpeg_progressive_differential(shape, subsample, gray):
    """Progressive decode vs TWO oracles: the encoder twin's own
    reconstruction (within the IDCT tolerance), and — because the
    progressive twin emits the SAME quantized coefficients as the
    baseline twin — bit-exact equality with the baseline decode of
    the same image."""
    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native

    rng = np.random.default_rng(sum(shape))
    h, w = shape
    base = rng.integers(0, 256, (4, 4, 3)).astype(np.float64)
    img = np.clip(
        np.rint(
            np.kron(base, np.ones(((h + 3) // 4, (w + 3) // 4, 1)))[
                :h, :w
            ]
            + rng.normal(0, 12, (h, w, 3))
        ),
        0,
        255,
    ).astype(np.uint8)
    prog, expect = _make_jpeg_progressive(img, subsample=subsample, gray=gray)
    got = decode_jpeg_native(prog)
    _assert_idct_close(got, expect)

    seq, _ = _make_jpeg(img, subsample=subsample, gray=gray)
    got_seq = decode_jpeg_native(seq)
    assert np.array_equal(got, got_seq), (
        "progressive and baseline decodes of identical quantized "
        "coefficients must agree bit-for-bit"
    )


@_needs("jpeg")
def test_decode_jpeg_progressive_eobrun_and_sparse():
    """Adversarial coefficient shapes: a FLAT image (every AC zero ->
    maximal cross-block EOB runs in first and refinement scans) and a
    sparse high-frequency image (long zero runs + isolated small
    coefficients -> ZRL and correction-bit paths). Both must equal
    the baseline decode bit-for-bit."""
    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native

    flat = np.full((32, 40, 3), 131, np.uint8)
    prog, expect = _make_jpeg_progressive(flat, subsample=True)
    got = decode_jpeg_native(prog)
    assert got is not None
    seq, _ = _make_jpeg(flat, subsample=True)
    assert np.array_equal(got, decode_jpeg_native(seq))
    _assert_idct_close(got, expect)

    rng = np.random.default_rng(99)
    sparse = np.full((48, 48, 3), 128, np.uint8)
    # isolated bright pixels -> energy smeared across high frequencies
    # at magnitude ~1 after quantization
    for _ in range(25):
        yy, xx = rng.integers(0, 48, 2)
        sparse[yy, xx] = rng.integers(140, 200, 3)
    prog, expect = _make_jpeg_progressive(sparse)
    got = decode_jpeg_native(prog)
    assert got is not None
    seq, _ = _make_jpeg(sparse)
    assert np.array_equal(got, decode_jpeg_native(seq))
    _assert_idct_close(got, expect)


@_needs("jpeg")
def test_decode_jpeg_randomized_sweep():
    """Randomized shapes/content through BOTH encoder twins: baseline
    (with and without 4:2:0 + restarts) and progressive must decode
    to the shared reconstruction within the IDCT tolerance, and agree
    with each other bit-for-bit, across 10 random cases."""
    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native

    rng = np.random.default_rng(2026)
    for case in range(10):
        h = int(rng.integers(8, 40))
        w = int(rng.integers(8, 40))
        subsample = bool(rng.integers(0, 2))
        gray = case % 5 == 4
        restart = int(rng.integers(0, 3))  # 0 = none
        img = np.clip(
            np.rint(
                rng.normal(128, 40, (h, w, 3))
                + rng.integers(-60, 60)
            ),
            0,
            255,
        ).astype(np.uint8)
        seq, expect = _make_jpeg(
            img, subsample=subsample, restart=restart, gray=gray
        )
        got_seq = decode_jpeg_native(seq)
        _assert_idct_close(got_seq, expect)
        prog, _ = _make_jpeg_progressive(img, subsample=subsample, gray=gray)
        got_prog = decode_jpeg_native(prog)
        assert got_prog is not None, (case, "progressive rejected")
        assert np.array_equal(got_prog, got_seq), (case, "path divergence")


@_needs("png")
def test_decode_png_16bit_numpy_differential():
    """16-bit PNG (scientific imagery): byte-pair filtering across
    every filter type decodes each sample v to the nearest 8-bit
    value, (v * 255 + 32767) // 65535, for gray, gray+alpha, RGB and
    RGBA (alpha dropped); a 16-bit palette is not a legal PNG shape
    and is rejected."""
    from opencosmo_spark.pipeline.native_codecs import decode_png_native

    rng = np.random.default_rng(21)
    h, w = 9, 7
    for color_type, nch in ((0, 1), (4, 2), (2, 3), (6, 4)):
        v = rng.integers(0, 65536, (h, w, nch), np.uint32)
        # 2 byte-channels per sample (hi, lo), so the twin's filter
        # left-distance equals the real bpp of 2 * nch
        raw = np.zeros((h, w, 2 * nch), np.uint8)
        raw[..., 0::2] = v >> 8
        raw[..., 1::2] = v & 0xFF
        png = _make_png(raw, color_type, row_filters=[0, 1, 2, 3, 4], depth=16)
        got = decode_png_native(png)
        want = ((v * 255 + 32767) // 65535).astype(np.uint8)
        want = np.repeat(want[..., :1], 3, 2) if nch <= 2 else want[..., :3]
        np.testing.assert_array_equal(got, want, err_msg=str(color_type))

    pal = np.array([[1, 2, 3]], np.uint8)
    idx = np.zeros((2, 2, 1), np.uint8)
    bad = _make_png(idx, 3, row_filters=[0], depth=16, palette=pal)
    assert decode_png_native(bad) is None


@_needs("png")
@_needs("gif")
@_needs("jpeg")
def test_image_decoders_are_total_under_mutation():
    """Crawl payloads are routinely corrupt: every image decoder
    must be TOTAL — return an array or None, never raise — under
    random byte mutations, truncations, and garbage. A decoder that
    throws kills the whole Spark task; the ladder relies on None.
    Also pins the anti-bomb guards: a mutated header cannot demand an
    unbounded allocation."""
    from opencosmo_spark.pipeline.multimodal import _decode_bmp, _decode_pnm
    from opencosmo_spark.pipeline.native_codecs import (
        decode_gif_native,
        decode_jpeg_native,
        decode_png_native,
    )

    rng = np.random.default_rng(77)
    img = rng.integers(0, 256, (10, 12, 3)).astype(np.uint8)
    seq, _ = _make_jpeg(img, subsample=True)
    prog, _ = _make_jpeg_progressive(img)
    png = _make_png(img, 2, row_filters=[0, 1, 2, 3, 4])
    gif = _make_gif(
        np.zeros((8, 8), np.uint8),
        np.array([[0, 0, 0]] * 4, np.uint8),
        mcs=2,
    )
    bmp = _make_bmp(img)
    pnm = b"P6\n12 10\n255\n" + bytes(img.reshape(-1))
    decoders = [
        decode_png_native, _decode_bmp, _decode_pnm, decode_gif_native,
        decode_jpeg_native,
    ]
    samples = [bytes(x) for x in (seq, prog, png, gif, bmp, pnm)]

    def check(payload):
        for dec in decoders:
            out = dec(payload)
            assert out is None or isinstance(out, np.ndarray)

    for s in samples:
        b = bytearray(s)
        for _ in range(60):
            m = bytearray(b)
            for _ in range(int(rng.integers(1, 4))):
                m[rng.integers(0, len(m))] = rng.integers(0, 256)
            check(bytes(m))
        for _ in range(10):
            check(bytes(b[: rng.integers(0, len(b))]))  # truncations
    for _ in range(30):
        check(bytes(rng.integers(0, 256, rng.integers(0, 64), np.uint8)))
    # anti-bomb: a PNG header demanding a 4-gigapixel image and a JPEG
    # SOF claiming 65535x65535 must both refuse quickly
    big_png = _make_png(np.zeros((2, 2, 3), np.uint8), 2, row_filters=[0])
    bp = bytearray(big_png)
    bp[16:24] = (65535).to_bytes(4, "big") + (65535).to_bytes(4, "big")
    assert decode_png_native(bytes(bp)) is None
    bj = bytearray(seq)
    i = bj.find(b"\xff\xc0")
    bj[i + 5 : i + 9] = b"\xff\xff\xff\xff"
    assert decode_jpeg_native(bytes(bj)) is None


def _wav_raw(raw: bytes, code: int, rate: int, bits: int, nch: int = 1,
             extensible: bool = False) -> bytes:
    """RIFF wrapper around pre-encoded sample bytes for any format
    code (independent of the decoder under test)."""
    byte_rate = rate * nch * bits // 8
    if extensible:
        body16 = (
            (0xFFFE).to_bytes(2, "little") + nch.to_bytes(2, "little")
            + rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
            + (nch * bits // 8).to_bytes(2, "little")
            + bits.to_bytes(2, "little")
            + (22).to_bytes(2, "little")            # cbSize
            + bits.to_bytes(2, "little")            # valid bits
            + (0).to_bytes(4, "little")             # channel mask
            + code.to_bytes(2, "little")            # subformat GUID head
            + bytes(14)
        )
    else:
        body16 = (
            code.to_bytes(2, "little") + nch.to_bytes(2, "little")
            + rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
            + (nch * bits // 8).to_bytes(2, "little")
            + bits.to_bytes(2, "little")
        )
    fmt = b"fmt " + len(body16).to_bytes(4, "little") + body16
    data = b"data" + len(raw).to_bytes(4, "little") + raw
    body = b"WAVE" + fmt + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_decode_wav_g711_float_and_24bit():
    """mu-law/A-law (independent G.711 COMPRESSORS in this test),
    IEEE float, 24-bit PCM, and WAVE_FORMAT_EXTENSIBLE all decode;
    G.711 round-trips within the coding's quantization error."""
    from opencosmo_spark.pipeline.multimodal import _decode_wav

    rng = np.random.default_rng(12)
    t = np.arange(800) / 8000.0
    sig = (0.7 * np.sin(2 * np.pi * 440 * t)).astype(np.float32)

    def mulaw_compress(x):
        out = bytearray()
        for v in np.clip((x * 32768).astype(int), -32768, 32767):
            s = 0x80 if v < 0 else 0
            v = min(abs(int(v)), 0x7FFF) + 0x84
            exp = v.bit_length() - 8          # 0..7 for v in [0x84, 0x7FFF+0x84]
            mant = (v >> (exp + 3)) & 0x0F
            out.append(~(s | (exp << 4) | mant) & 0xFF)
        return bytes(out)

    def alaw_compress(x):
        out = bytearray()
        for v in np.clip((x * 32768).astype(int), -32768, 32767):
            s = 0x80 if v >= 0 else 0         # A-law sign convention
            v = min(abs(int(v)), 0x7FFF)
            if v < 256:
                code = v >> 4
            else:
                exp = v.bit_length() - 8
                mant = (v >> (exp + 3)) & 0x0F
                code = (exp << 4) | mant
            out.append((s | code) ^ 0x55)
        return bytes(out)

    got, rate = _decode_wav(_wav_raw(mulaw_compress(sig), 7, 8000, 8))
    assert rate == 8000 and len(got) == len(sig)
    assert float(np.abs(got - sig).max()) < 0.04  # mu-law quantization
    assert float(np.corrcoef(got, sig)[0, 1]) > 0.999

    got, _ = _decode_wav(_wav_raw(alaw_compress(sig), 6, 8000, 8))
    assert float(np.abs(got - sig).max()) < 0.04
    assert float(np.corrcoef(got, sig)[0, 1]) > 0.999

    # IEEE float32: exact
    got, _ = _decode_wav(_wav_raw(sig.astype("<f4").tobytes(), 3, 8000, 32))
    np.testing.assert_allclose(got, sig, atol=1e-7)

    # 24-bit PCM: exact integer reconstruction
    v24 = np.clip((sig * 8388607).astype(np.int64), -(1 << 23), (1 << 23) - 1)
    raw24 = b"".join(
        int(x & 0xFFFFFF).to_bytes(3, "little") for x in v24
    )
    got, _ = _decode_wav(_wav_raw(raw24, 1, 8000, 24))
    np.testing.assert_allclose(got, v24 / 8388608.0, atol=1e-7)

    # EXTENSIBLE wrapping PCM16 decodes like plain PCM16
    raw16 = (sig * 32767.0).astype("<i2").tobytes()
    got_ext, _ = _decode_wav(_wav_raw(raw16, 1, 8000, 16, extensible=True))
    got_pcm, _ = _decode_wav(_wav_raw(raw16, 1, 8000, 16))
    assert np.array_equal(got_ext, got_pcm)

    # unsupported codes still refuse
    assert _decode_wav(_wav_raw(raw16, 2, 8000, 16)) is None  # ADPCM


def test_codec_gate_messages_derive_from_ladder(spark):
    """The require_real_codec gate text is generated from the SAME
    ladder tables the decode loops iterate — every format the ladder
    really decodes must be named in the gate message (round-11 drift
    bug: the hand-written message underclaimed coverage after the
    JPEG/GIF/16-bit-PNG decoders landed)."""
    from opencosmo_spark.pipeline.multimodal import (
        _AUDIO_LADDER,
        _image_ladder,
        decode_audio_features,
        decode_image_features,
    )

    df = spark.createDataFrame([(b"x",)], "payload binary")
    with pytest.raises(NotImplementedError) as ei:
        decode_image_features(df, require_real_codec=True)
    for _, _, desc in _image_ladder():
        assert desc in str(ei.value), desc
    with pytest.raises(NotImplementedError) as ea:
        decode_audio_features(df, require_real_codec=True)
    for _, _, desc in _AUDIO_LADDER:
        assert desc in str(ea.value), desc
    # the ladder is the one the decode loop consumes: every entry is
    # (name, callable, description)
    for name, fn, desc in _image_ladder() + _AUDIO_LADDER:
        assert callable(fn) and isinstance(name, str) and desc


def _mp3_fixture(
    n_frames=10, ver_bits=3, layer_bits=1, br_idx=9, sr_idx=0,
    mono=True, id3=False,
):
    """Hand-built MPEG audio stream: n_frames valid frame headers with
    zeroed payloads. Defaults: MPEG1 Layer III, 128 kbps, 44100 Hz
    (br_idx 9 in the L3 table), the commonest crawl mp3 shape."""
    hdr0 = 0xFF
    hdr1 = 0xE0 | (ver_bits << 3) | (layer_bits << 1)
    hdr2 = (br_idx << 4) | (sr_idx << 2)  # padding 0
    hdr3 = 0xC0 if mono else 0x00
    from opencosmo_spark.pipeline.multimodal import _mp3_parse_header

    probe = bytes([hdr0, hdr1, hdr2, hdr3])
    frame_bytes = _mp3_parse_header(probe + b"\x00" * 4, 0)[0]
    frame = probe + b"\x00" * (frame_bytes - 4)
    out = frame * n_frames
    if id3:
        body = b"\x00" * 200  # 200-byte tag body, syncsafe size
        out = b"ID3\x04\x00\x00" + bytes([0, 0, 200 >> 7, 200 & 0x7F]) + body + out
    return out


def test_mp3_metadata_frame_walk():
    """Known-duration differential: N frames of MPEG1 Layer III at
    44100 Hz are exactly N*1152 samples; MPEG2 Layer III halves the
    frame to 576; ID3v2 tags are skipped; junk and single-frame false
    syncs are rejected."""
    from opencosmo_spark.pipeline.multimodal import _mp3_metadata

    rate, ch, nf, ns, bps = _mp3_metadata(_mp3_fixture(10))
    assert (rate, ch, nf, ns) == (44100, 1, 10, 10 * 1152)
    assert bps == 128_000

    # stereo MPEG2 Layer III @ 22050: 576 samples per frame
    rate, ch, nf, ns, bps = _mp3_metadata(
        _mp3_fixture(7, ver_bits=2, sr_idx=0, br_idx=8, mono=False)
    )
    assert (rate, ch, nf, ns) == (22050, 2, 7, 7 * 576)

    # Layer I: 384 samples per frame, 4-byte-slot frames
    rate, ch, nf, ns, bps = _mp3_metadata(
        _mp3_fixture(5, layer_bits=3, br_idx=9)
    )
    assert (rate, ch, nf, ns) == (44100, 1, 5, 5 * 384)

    # ID3v2 tag is skipped
    rate, ch, nf, ns, bps = _mp3_metadata(_mp3_fixture(10, id3=True))
    assert (nf, ns) == (10, 10 * 1152)

    # rejections: junk, truncation to one frame, WAV bytes
    assert _mp3_metadata(b"not audio at all" * 10) is None
    one = _mp3_fixture(1)
    assert _mp3_metadata(one) is None  # single frame: false-sync guard
    assert _mp3_metadata(None) is None


def test_decode_audio_features_mp3_meta_tier(spark):
    """mp3 payloads land in the metadata-only tier: real
    rate/duration from the frame chain, NULL signal stats, decoder
    'mp3-meta' — decoder_report then separates them from real decodes
    and stubs."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        decode_audio_features,
        decoder_report,
    )

    payload = _mp3_fixture(20)
    df = spark.createDataFrame(
        [("a", "audio/mpeg", payload), ("b", "audio/mpeg", b"junkjunk")],
        "media_id string, mime string, payload binary",
    )
    out = decode_audio_features(df).toPandas().set_index("media_id")
    a = out.loc["a"]
    assert a.decoder == "mp3-meta"
    assert a.sample_rate == 44100
    assert a.n_samples == 20 * 1152
    assert a.audio_duration_ms == int(20 * 1152 * 1000 / 44100)
    assert pd.isna(a.rms) and pd.isna(a.zcr) and pd.isna(a.peak)
    assert out.loc["b"].decoder == "stub-sha256"

    rep = decoder_report(
        decode_audio_features(df), mime_col="mime"
    ).toPandas()
    tiers = set(rep.decoder)
    assert tiers == {"mp3-meta", "stub-sha256"}


def test_flac_and_ogg_metadata_tiers(spark):
    """FLAC STREAMINFO and Ogg Vorbis/Opus page parses land in the
    metadata tier with real rate/duration and NULL signal stats."""
    import pandas as pd

    from opencosmo_spark.pipeline.multimodal import (
        _flac_metadata,
        _ogg_metadata,
        decode_audio_features,
    )

    # FLAC: hand-built STREAMINFO (44100 Hz, stereo, 88200 samples)
    v = (44100 << 44) | ((2 - 1) << 41) | ((16 - 1) << 36) | 88200
    streaminfo = (
        (1152).to_bytes(2, "big") * 2  # min/max block size
        + b"\x00\x00\x00" * 2          # min/max frame size
        + v.to_bytes(8, "big")
        + b"\x00" * 16                 # md5
    )
    flac = b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    assert _flac_metadata(flac) == (44100, 2, 88200)
    assert _flac_metadata(b"fLaCxx") is None
    assert _flac_metadata(b"RIFFxxxx") is None
    # total_samples == 0 is the spec's UNKNOWN sentinel: duration must
    # come back NULL, not a fake 0 ms (review finding)
    v0 = (44100 << 44) | ((2 - 1) << 41) | ((16 - 1) << 36)
    si0 = (
        (1152).to_bytes(2, "big") * 2 + b"\x00\x00\x00" * 2
        + v0.to_bytes(8, "big") + b"\x00" * 16
    )
    flac0 = b"fLaC" + bytes([0x80]) + len(si0).to_bytes(3, "big") + si0
    assert _flac_metadata(flac0) == (44100, 2, None)

    def ogg_page(body, granule, first=True):
        return (
            b"OggS\x00" + (b"\x02" if first else b"\x04")
            + granule.to_bytes(8, "little")
            + b"\x01\x00\x00\x00" + b"\x00\x00\x00\x00"
            + b"\x00\x00\x00\x00" + bytes([1, len(body)]) + body
        )

    # Vorbis: ident packet on page 1, last granule = PCM samples
    ident = b"\x01vorbis" + b"\x00\x00\x00\x00" + bytes([2]) + (22050).to_bytes(4, "little") + b"\x00" * 16
    ogg = ogg_page(ident, 0) + ogg_page(b"\x05vorbis", 44100, first=False)
    assert _ogg_metadata(ogg) == (22050, 2, 44100)

    # Opus: 48 kHz ticks minus pre-skip
    opus_head = b"OpusHead\x01" + bytes([1]) + (312).to_bytes(2, "little") + (16000).to_bytes(4, "little") + b"\x00\x00\x00"
    ogg2 = ogg_page(opus_head, 0) + ogg_page(b"x", 48312, first=False)
    assert _ogg_metadata(ogg2) == (48000, 1, 48000)
    assert _ogg_metadata(b"OggSgarbage" + b"\x00" * 60) is None
    # 'OggS' inside the last page's PACKET bytes must not false-sync
    # the granule read (review finding): the fake marker is followed
    # by a nonzero version byte, so the scan steps back to the real
    # page header
    poisoned = ogg_page(ident, 0) + ogg_page(
        b"\x05vorbisOggS\xffjunkjunk", 22050, first=False
    )
    assert _ogg_metadata(poisoned) == (22050, 2, 22050)

    # Spark tier wiring
    df = spark.createDataFrame(
        [("f", flac), ("o", ogg), ("x", b"junk" * 10)],
        "media_id string, payload binary",
    )
    out = decode_audio_features(df).toPandas().set_index("media_id")
    assert out.loc["f"].decoder == "flac-meta"
    assert out.loc["f"].sample_rate == 44100
    assert out.loc["f"].audio_duration_ms == 2000
    assert pd.isna(out.loc["f"].rms)
    assert out.loc["o"].decoder == "ogg-meta"
    assert out.loc["o"].audio_duration_ms == 2000
    assert out.loc["x"].decoder == "stub-sha256"


def _make_jpeg_multiscan(rgb, subsample=False, gray=False, restart=0):
    """Non-interleaved multi-scan baseline twin: same quantization
    front half as _make_jpeg, but one SOS per component, each scanning
    its own non-interleaved block grid (the layout some encoders emit
    that round 11's decoder had to stub)."""
    h, w, samp, qts, qt_of, grids, expect = _twin_quantize(
        rgb, subsample=subsample, gray=gray
    )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    ntab = 1 if gray else 2

    def tset(ci):
        return 0 if ci == 0 else 1

    def ni_grid(ci):
        sh, sv = samp[ci]
        cw = -(-(w * sh) // hmax)
        chh = -(-(h * sv) // vmax)
        return -(-chh // 8), -(-cw // 8)

    dc_syms = [set() for _ in range(ntab)]
    ac_syms = [set() for _ in range(ntab)]

    def scan_blocks(ci):
        nih, niw = ni_grid(ci)
        pred = 0
        unit = 0
        for by in range(nih):
            for bx in range(niw):
                if restart and unit and unit % restart == 0:
                    pred = 0
                unit += 1
                zz = grids[ci][by, bx][_TWIN_ZZ]
                yield int(zz[0]) - pred, zz
                pred = int(zz[0])

    for ci in range(len(samp)):
        for diff, zz in scan_blocks(ci):
            t, _ = _twin_cat(diff)
            dc_syms[tset(ci)].add(t)
            run = 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    ac_syms[tset(ci)].add(0xF0)
                    run -= 16
                s, _ = _twin_cat(int(zz[k]))
                ac_syms[tset(ci)].add((run << 4) | s)
                run = 0
            if run:
                ac_syms[tset(ci)].add(0x00)
    for s in ac_syms:
        s.add(0x00)

    dc_tabs = [_jpeg_twin_tables(s) for s in dc_syms]
    ac_tabs = [_jpeg_twin_tables(s) for s in ac_syms]

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    for tid, q in enumerate(qts):
        seg(0xDB, bytes([tid]) + bytes(int(q.flatten()[z]) for z in _TWIN_ZZ))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(len(samp))
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qt_of[ci]])
    seg(0xC0, bytes(sof))
    for cls, tabs in ((0, dc_tabs), (1, ac_tabs)):
        for tid, (counts, syms, _) in enumerate(tabs):
            seg(0xC4, bytes([(cls << 4) | tid]) + bytes(counts) + bytes(syms))
    if restart:
        seg(0xDD, restart.to_bytes(2, "big"))

    for ci in range(len(samp)):
        seg(0xDA, bytes([1, ci + 1, (tset(ci) << 4) | tset(ci), 0, 63, 0]))
        wtr = _JpegTwinWriter()
        dcodes = dc_tabs[tset(ci)][2]
        acodes = ac_tabs[tset(ci)][2]
        unit = 0
        rst = 0
        for diff, zz in scan_blocks(ci):
            if restart and unit and unit % restart == 0:
                wtr.pad()
                wtr.out += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
            unit += 1
            t, bits = _twin_cat(diff)
            c, L = dcodes[t]
            wtr.put(c, L)
            if t:
                wtr.put(bits, t)
            run = 0
            for k in range(1, 64):
                if zz[k] == 0:
                    run += 1
                    continue
                while run > 15:
                    c, L = acodes[0xF0]
                    wtr.put(c, L)
                    run -= 16
                s, bits = _twin_cat(int(zz[k]))
                c, L = acodes[(run << 4) | s]
                wtr.put(c, L)
                if s:
                    wtr.put(bits, s)
                run = 0
            if run:
                c, L = acodes[0x00]
                wtr.put(c, L)
        wtr.pad()
        out.extend(wtr.out)
    out.extend(b"\xff\xd9")
    return bytes(out), expect


@_needs("jpeg")
@pytest.mark.parametrize(
    "shape,subsample,gray,restart",
    [
        ((13, 20), False, False, 0),   # 4:4:4 ragged, 3 scans
        ((16, 24), False, True, 0),    # grayscale single scan (ni path)
        ((29, 35), True, False, 0),    # 4:2:0 ragged (ni luma grid)
        ((16, 20), False, False, 3),   # restart markers inside scans
    ],
)
def test_decode_jpeg_multiscan_baseline(shape, subsample, gray, restart):
    """Non-interleaved multi-scan baseline decodes to the same pixels
    as the interleaved single-scan encoding of the SAME quantized
    coefficients."""
    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native

    rng = np.random.default_rng(sum(shape))
    rgb = rng.integers(0, 256, (*shape, 3)).astype(np.uint8)
    multi, expect = _make_jpeg_multiscan(
        rgb, subsample=subsample, gray=gray, restart=restart
    )
    got = decode_jpeg_native(multi)
    _assert_idct_close(got, expect)
    # and it must agree with the interleaved twin of the same coefs
    inter, _ = _make_jpeg(rgb, subsample=subsample, gray=gray)
    np.testing.assert_array_equal(got, decode_jpeg_native(inter))


def test_image_metadata_header_parse(spark):
    """Header-parsed dimensions for every format INCLUDING the gated
    ones (lossy VP8 WebP, arithmetic JPEG): the image twin of the
    audio metadata tier."""
    import struct
    import zlib as _z

    from opencosmo_spark.pipeline.multimodal import (
        _image_header_meta,
        image_metadata,
    )

    # PNG IHDR 31x17
    ihdr = struct.pack(">II", 31, 17) + b"\x08\x02\x00\x00\x00"
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR" + ihdr
        + struct.pack(">I", _z.crc32(b"IHDR" + ihdr))
    )
    assert _image_header_meta(png) == ("png", 31, 17)

    gif = b"GIF89a" + (40).to_bytes(2, "little") + (25).to_bytes(2, "little") + b"\x00" * 6
    assert _image_header_meta(gif) == ("gif", 40, 25)

    bmp = b"BM" + b"\x00" * 16 + (12).to_bytes(4, "little") + (-9 & 0xFFFFFFFF).to_bytes(4, "little") + b"\x00" * 10
    assert _image_header_meta(bmp) == ("bmp", 12, 9)  # top-down height

    # baseline JPEG via the encoder twin
    rng = np.random.default_rng(4)
    jpg, _ = _make_jpeg(rng.integers(0, 256, (13, 20, 3)).astype(np.uint8))
    assert _image_header_meta(jpg) == ("jpeg", 20, 13)
    # arithmetic-coded SOF9: dimensions parse even though decode gates
    arith = bytearray(jpg)
    sof_at = bytes(arith).index(b"\xff\xc0")
    arith[sof_at + 1] = 0xC9
    assert _image_header_meta(bytes(arith)) == ("jpeg", 20, 13)

    # lossless WebP via the VP8L twin
    import sys as _s
    _s.path.insert(0, "tests")
    from test_vp8l import encode_plain

    webp = encode_plain(rng.integers(0, 256, (7, 9, 3)).astype(np.uint8))
    assert _image_header_meta(webp) == ("webp", 9, 7)

    # LOSSY VP8 keyframe header (decode gates, metadata doesn't)
    vp8 = (
        b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + (33).to_bytes(2, "little") + (21).to_bytes(2, "little")
    )
    lossy = (
        b"RIFF" + (12 + len(vp8) + 2).to_bytes(4, "little") + b"WEBP"
        + b"VP8 " + len(vp8).to_bytes(4, "little") + vp8
    )
    assert _image_header_meta(lossy) == ("webp", 33, 21)

    pnm = b"P6\n64 48\n255\n" + b"\x00" * 10
    assert _image_header_meta(pnm) == ("pnm", 64, 48)
    # netpbm '#' comment lines between tokens (review finding)
    pnm_c = b"P5\n# CREATOR: netpbm\n640 480\n255\n" + b"\x00" * 4
    assert _image_header_meta(pnm_c) == ("pnm", 640, 480)
    assert _image_header_meta(b"not an image") is None
    assert _image_header_meta(None) is None

    df = spark.createDataFrame(
        [("a", png), ("b", lossy), ("c", b"junk" * 5)],
        "media_id string, payload binary",
    )
    out = image_metadata(df).toPandas().set_index("media_id")
    assert (out.loc["a"].img_format, out.loc["a"].img_width) == ("png", 31)
    assert (out.loc["b"].img_format, out.loc["b"].img_height) == ("webp", 21)
    assert out.loc["c"].img_format is None


def _box(btype, payload):
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def _make_mp4(duration_ms=5000, timescale=1000, w=640, h=360,
              audio=True, v1=False):
    """Minimal valid ISO-BMFF fixture: ftyp + moov(mvhd, video trak
    with tkhd dims + hdlr vide, optional audio trak)."""
    if v1:
        mvhd = (
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + timescale.to_bytes(4, "big")
            + (duration_ms * timescale // 1000).to_bytes(8, "big")
            + b"\x00" * 80
        )
    else:
        mvhd = (
            b"\x00\x00\x00\x00" + b"\x00" * 8
            + timescale.to_bytes(4, "big")
            + (duration_ms * timescale // 1000).to_bytes(4, "big")
            + b"\x00" * 80
        )

    def tkhd(width, height):
        return (
            b"\x00\x00\x00\x00" + b"\x00" * 72
            + (width << 16).to_bytes(4, "big")
            + (height << 16).to_bytes(4, "big")
        )

    def hdlr(kind):
        return b"\x00" * 8 + kind + b"\x00" * 12

    vtrak = _box(
        b"trak",
        _box(b"tkhd", tkhd(w, h)) + _box(b"mdia", _box(b"hdlr", hdlr(b"vide"))),
    )
    atrak = _box(
        b"trak",
        _box(b"tkhd", tkhd(0, 0)) + _box(b"mdia", _box(b"hdlr", hdlr(b"soun"))),
    ) if audio else b""
    moov = _box(b"moov", _box(b"mvhd", mvhd) + vtrak + atrak)
    return _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov


def test_mp4_metadata_box_walk(spark):
    """ISO-BMFF metadata tier: duration from mvhd (v0 and v1), dims
    from tkhd 16.16 fixed point, track kinds from hdlr; junk is NULL;
    the duration feeds sample_video_frames' contract."""
    from opencosmo_spark.pipeline.multimodal import (
        _mp4_metadata,
        sample_video_frames,
        video_metadata,
    )

    mp4 = _make_mp4(duration_ms=5000, w=640, h=360, audio=True)
    assert _mp4_metadata(mp4) == (5000, 640, 360, True, True)
    v1 = _make_mp4(duration_ms=7500, timescale=90000, w=1280, h=720,
                   audio=False, v1=True)
    assert _mp4_metadata(v1) == (7500, 1280, 720, True, False)
    assert _mp4_metadata(b"RIFFxxxxWEBP") is None
    assert _mp4_metadata(None) is None
    assert _mp4_metadata(b"\x00\x00\x00\x08ftyp" + b"\x00" * 8) is None

    df = spark.createDataFrame(
        [("a", mp4), ("b", b"junk" * 8)], "media_id string, payload binary"
    )
    out = video_metadata(df).toPandas().set_index("media_id")
    assert out.loc["a"].vid_format == "mp4"
    assert out.loc["a"].vid_duration_ms == 5000
    assert (out.loc["a"].vid_width, out.loc["a"].vid_height) == (640, 360)
    assert bool(out.loc["a"].vid_has_video)
    assert bool(out.loc["a"].vid_has_audio)
    assert out.loc["b"].vid_format is None

    # composes with the frame-sampling plumbing: 5 frames at 1000ms
    from pyspark.sql import functions as sf

    frames = sample_video_frames(
        video_metadata(df)
        .filter(sf.col("vid_format").isNotNull())
        .withColumnRenamed("vid_duration_ms", "duration_ms")
    )
    assert frames.count() == 5


def _ebml(eid_bytes, body):
    # size as a 2-byte vint (0x4000 | size) keeps the fixture simple
    assert len(body) < 0x3FFF
    return eid_bytes + bytes([0x40 | (len(body) >> 8), len(body) & 0xFF]) + body


def _make_webm(duration_ms=4000, scale_ns=1_000_000, w=320, h=240,
               audio=True):
    import struct

    info = _ebml(
        b"\x15\x49\xa9\x66",
        _ebml(b"\x2a\xd7\xb1", scale_ns.to_bytes(3, "big"))
        + _ebml(b"\x44\x89", struct.pack(
            ">d", duration_ms * 1_000_000 / scale_ns)),
    )
    video = _ebml(
        b"\xe0",
        _ebml(b"\xb0", w.to_bytes(2, "big"))
        + _ebml(b"\xba", h.to_bytes(2, "big")),
    )
    vtrack = _ebml(b"\xae", _ebml(b"\x83", b"\x01") + video)
    atrack = _ebml(b"\xae", _ebml(b"\x83", b"\x02")) if audio else b""
    tracks = _ebml(b"\x16\x54\xae\x6b", vtrack + atrack)
    segment = _ebml(b"\x18\x53\x80\x67", info + tracks)
    header = _ebml(b"\x1a\x45\xdf\xa3", b"\x42\x82\x84webm"[:0] + b"")
    return header + segment


def test_webm_metadata_ebml_walk(spark):
    """EBML walk: duration from Info (float ticks x TimecodeScale),
    dims from the video TrackEntry, track kinds; mp4 and webm coexist
    in one video_metadata pass."""
    from opencosmo_spark.pipeline.multimodal import (
        _webm_metadata,
        video_metadata,
    )

    webm = _make_webm(duration_ms=4000, w=320, h=240, audio=True)
    assert _webm_metadata(webm) == (4000, 320, 240, True, True)
    noaudio = _make_webm(duration_ms=1500, scale_ns=500_000, w=64, h=48,
                         audio=False)
    assert _webm_metadata(noaudio) == (1500, 64, 48, True, False)
    assert _webm_metadata(b"RIFFxxxxWEBP") is None
    assert _webm_metadata(None) is None

    df = spark.createDataFrame(
        [("m", _make_mp4(duration_ms=2000)), ("w", webm), ("x", b"junk!")],
        "media_id string, payload binary",
    )
    out = video_metadata(df).toPandas().set_index("media_id")
    assert out.loc["m"].vid_format == "mp4"
    assert out.loc["w"].vid_format == "webm"
    assert out.loc["w"].vid_duration_ms == 4000
    assert (out.loc["w"].vid_width, out.loc["w"].vid_height) == (320, 240)
    assert bool(out.loc["w"].vid_has_video) and bool(out.loc["w"].vid_has_audio)
    assert out.loc["x"].vid_format is None


def test_webm_unknown_size_segment():
    """Streaming WebM encodes the Segment size as an all-ones vint
    (UNKNOWN): the walk must clamp it to end-of-data, not stop at a
    127-byte body."""
    from opencosmo_spark.pipeline.multimodal import _webm_metadata

    full = _make_webm(duration_ms=2500, w=100, h=80, audio=False)
    # rebuild with an unknown-size segment: header + 0x18538067 + 0xFF
    seg_at = full.index(b"\x18\x53\x80\x67")
    seg_body_at = seg_at + 4 + 2  # id + 2-byte size vint
    streaming = full[:seg_at] + b"\x18\x53\x80\x67\xff" + full[seg_body_at:]
    assert _webm_metadata(streaming) == (2500, 100, 80, True, False)


def test_video_duration_unknown_is_null():
    """Containers that omit duration (live WebM without Info.Duration,
    mvhd with timescale 0) report duration=None — NULL, not a fake 0 —
    so a consumer can tell 'unknown' from a genuine 0-length clip,
    matching the FLAC metadata tier's posture."""
    import struct

    from opencosmo_spark.pipeline.multimodal import (
        _mp4_metadata,
        _webm_metadata,
    )

    # mvhd timescale 0: dims/track kinds still parse, duration -> NULL
    zerots = _make_mp4(duration_ms=0, timescale=0, w=640, h=360)
    assert _mp4_metadata(zerots) == (None, 640, 360, True, True)
    # a genuine 0-length clip (timescale valid, duration 0) stays 0
    empty = _make_mp4(duration_ms=0, timescale=1000, w=64, h=48)
    assert _mp4_metadata(empty) == (0, 64, 48, True, True)

    # WebM Info without a Duration element (live/streamed capture)
    info = _ebml(b"\x15\x49\xa9\x66",
                 _ebml(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big")))
    video = _ebml(b"\xe0", _ebml(b"\xb0", (100).to_bytes(2, "big"))
                  + _ebml(b"\xba", (80).to_bytes(2, "big")))
    vtrack = _ebml(b"\xae", _ebml(b"\x83", b"\x01") + video)
    tracks = _ebml(b"\x16\x54\xae\x6b", vtrack)
    live = (_ebml(b"\x1a\x45\xdf\xa3", b"")
            + _ebml(b"\x18\x53\x80\x67", info + tracks))
    assert _webm_metadata(live) == (None, 100, 80, True, False)
    # Duration element present and exactly 0 ticks stays a real 0
    info0 = _ebml(b"\x15\x49\xa9\x66",
                  _ebml(b"\x44\x89", struct.pack(">d", 0.0)))
    zero = (_ebml(b"\x1a\x45\xdf\xa3", b"")
            + _ebml(b"\x18\x53\x80\x67", info0 + tracks))
    assert _webm_metadata(zero) == (0, 100, 80, True, False)


def _make_jpeg_partial(rgb, subsample=False, restart=0):
    """Partially-interleaved multi-scan baseline twin: scan 1 carries
    [Y, Cb] interleaved over the FRAME MCU grid, scan 2 carries [Cr]
    non-interleaved — the legal 2-of-3 layout (T.81 A.2.3) the
    decoder previously stubbed. Tables are (re)defined before each
    scan. Returns (jpeg_bytes, expected_rgb)."""
    h, w, samp, qts, qt_of, grids, expect = _twin_quantize(
        rgb, subsample=subsample
    )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    def scan_blocks(comps, interleaved):
        """(ci, 8x8 block) in scan order, with MCU/block counters for
        restart placement."""
        out = []
        if interleaved:
            for my in range(mcuy):
                for mx in range(mcux):
                    unit = []
                    for ci in comps:
                        sh, sv = samp[ci]
                        for v in range(sv):
                            for u in range(sh):
                                unit.append(
                                    (ci,
                                     grids[ci][my * sv + v, mx * sh + u]
                                     .reshape(8, 8))
                                )
                    out.append(unit)
        else:
            (ci,) = comps
            sh, sv = samp[ci]
            niw = -(-(-(-w * sh // hmax)) // 8)
            nih = -(-(-(-h * sv // vmax)) // 8)
            for by in range(nih):
                for bx in range(niw):
                    out.append(
                        [(ci, grids[ci][by, bx].reshape(8, 8))]
                    )
        return out

    def encode_scan(units, comps):
        """(dht_payloads, sos_payload, entropy_bytes) for one scan
        with its own minimal tables (ids 0/0 redefined per scan)."""
        dc_syms, ac_syms = set(), set()
        preds = {ci: 0 for ci in comps}
        for ui, unit in enumerate(units):
            if restart and ui and ui % restart == 0:
                preds = {ci: 0 for ci in comps}
            for ci, qc in unit:
                zz = qc.flatten()[_TWIN_ZZ]
                t, _ = _twin_cat(int(zz[0]) - preds[ci])
                preds[ci] = int(zz[0])
                dc_syms.add(t)
                run = 0
                for k in range(1, 64):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        ac_syms.add(0xF0)
                        run -= 16
                    s, _ = _twin_cat(int(zz[k]))
                    ac_syms.add((run << 4) | s)
                    run = 0
                if run:
                    ac_syms.add(0x00)
        ac_syms.add(0x00)
        dc_tab = _jpeg_twin_tables(dc_syms)
        ac_tab = _jpeg_twin_tables(ac_syms)
        wtr = _JpegTwinWriter()
        preds = {ci: 0 for ci in comps}
        rst = 0
        for ui, unit in enumerate(units):
            if restart and ui and ui % restart == 0:
                wtr.pad()
                wtr.out += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                preds = {ci: 0 for ci in comps}
            for ci, qc in unit:
                zz = qc.flatten()[_TWIN_ZZ]
                t, bits = _twin_cat(int(zz[0]) - preds[ci])
                preds[ci] = int(zz[0])
                c, L = dc_tab[2][t]
                wtr.put(c, L)
                if t:
                    wtr.put(bits, t)
                run = 0
                for k in range(1, 64):
                    if zz[k] == 0:
                        run += 1
                        continue
                    while run > 15:
                        c, L = ac_tab[2][0xF0]
                        wtr.put(c, L)
                        run -= 16
                    s, bits = _twin_cat(int(zz[k]))
                    c, L = ac_tab[2][(run << 4) | s]
                    wtr.put(c, L)
                    if s:
                        wtr.put(bits, s)
                    run = 0
                if run:
                    c, L = ac_tab[2][0x00]
                    wtr.put(c, L)
        wtr.pad()
        dhts = [
            bytes([0x00]) + bytes(dc_tab[0]) + bytes(dc_tab[1]),
            bytes([0x10]) + bytes(ac_tab[0]) + bytes(ac_tab[1]),
        ]
        sos = bytearray([len(comps)])
        for ci in comps:
            sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
        sos += bytes([0, 63, 0])
        return dhts, bytes(sos), bytes(wtr.out)

    out = bytearray(b"\xff\xd8")

    def seg(marker, payload):
        out.extend(bytes([0xFF, marker]))
        out.extend((len(payload) + 2).to_bytes(2, "big"))
        out.extend(payload)

    for tid, q in enumerate(qts):
        seg(0xDB, bytes([tid]) + bytes(int(q.flatten()[z]) for z in _TWIN_ZZ))
    sof = bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof.append(len(samp))
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, qt_of[ci]])
    seg(0xC0, bytes(sof))
    if restart:
        seg(0xDD, restart.to_bytes(2, "big"))
    for comps, inter in (([0, 1], True), ([2], False)):
        units = scan_blocks(comps, inter)
        dhts, sos, entropy = encode_scan(units, comps)
        for d in dhts:
            seg(0xC4, d)
        seg(0xDA, sos)
        out.extend(entropy)
    out.extend(b"\xff\xd9")
    return bytes(out), expect


@_needs("jpeg")
@pytest.mark.parametrize(
    "shape,subsample,restart",
    [
        ((16, 24), False, 0),   # exact MCU grid, 4:4:4
        ((13, 21), False, 0),   # ragged edges
        ((29, 35), True, 0),    # 4:2:0: chroma MCU geometry differs
        ((16, 32), True, 3),    # restart markers count MCUs per scan
    ],
)
def test_decode_jpeg_partially_interleaved(shape, subsample, restart):
    """The 2-of-3 partially-interleaved multi-scan baseline layout
    decodes bit-identically to the fully-interleaved twin of the
    same quantized coefficients."""
    from opencosmo_spark.pipeline.native_codecs import decode_jpeg_native

    rng = np.random.default_rng(sum(shape) + restart)
    h, w = shape
    low = rng.normal(128, 40, (max(1, h // 8), max(1, w // 8), 3))
    rgb = np.clip(
        np.kron(low, np.ones((8, 8, 1)))[:h, :w], 0, 255
    ).astype(np.uint8)
    partial, expect = _make_jpeg_partial(
        rgb, subsample=subsample, restart=restart
    )
    full, expect2 = _make_jpeg(rgb, subsample=subsample)
    np.testing.assert_array_equal(expect, expect2)
    got = decode_jpeg_native(partial)
    assert got is not None
    np.testing.assert_array_equal(got, decode_jpeg_native(full))
    _assert_idct_close(got, expect)


def _make_mp4_subs(cues, timescale=1000, handler=b"text", gaps=False):
    """ISO-BMFF fixture with one tx3g subtitle track: ``cues`` =
    [(text, duration_ticks)]; with ``gaps`` an empty sample is
    interleaved after each cue (the tx3g gap convention)."""
    samples = []
    deltas = []
    for text, dur in cues:
        enc = text.encode("utf-8")
        samples.append(len(enc).to_bytes(2, "big") + enc)
        deltas.append(dur)
        if gaps:
            samples.append(b"\x00\x00")
            deltas.append(dur // 2 or 1)

    def build(mdat_at):
        stsd = _box(
            b"stsd",
            b"\x00" * 4 + (1).to_bytes(4, "big")
            + _box(b"tx3g", b"\x00" * 6 + b"\x00\x01" + b"\x00" * 24),
        )
        stts = _box(
            b"stts",
            b"\x00" * 4 + len(deltas).to_bytes(4, "big")
            + b"".join(
                (1).to_bytes(4, "big") + d.to_bytes(4, "big")
                for d in deltas
            ),
        )
        stsc = _box(
            b"stsc",
            b"\x00" * 4 + (1).to_bytes(4, "big")
            + (1).to_bytes(4, "big") + len(samples).to_bytes(4, "big")
            + (1).to_bytes(4, "big"),
        )
        stsz = _box(
            b"stsz",
            b"\x00" * 4 + (0).to_bytes(4, "big")
            + len(samples).to_bytes(4, "big")
            + b"".join(len(s).to_bytes(4, "big") for s in samples),
        )
        stco = _box(
            b"stco",
            b"\x00" * 4 + (1).to_bytes(4, "big")
            + mdat_at.to_bytes(4, "big"),
        )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        mdhd = _box(
            b"mdhd",
            b"\x00" * 4 + b"\x00" * 8 + timescale.to_bytes(4, "big")
            + sum(deltas).to_bytes(4, "big") + b"\x00" * 4,
        )
        hdlr = _box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 12)
        mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
        moov = _box(b"moov", _box(b"trak", mdia))
        return moov

    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    moov = build(0)
    mdat_at = len(ftyp) + len(moov) + 8
    moov = build(mdat_at)
    return ftyp + moov + _box(b"mdat", b"".join(samples))


def _make_webm_subs(cues, scale_ns=1_000_000, simple=False,
                    codec=b"S_TEXT/UTF8"):
    """WebM fixture with an S_TEXT/UTF8 track: ``cues`` =
    [(t_ticks, dur_ticks, text)] in one cluster at timecode 0."""
    info = _ebml(b"\x15\x49\xa9\x66",
                 _ebml(b"\x2a\xd7\xb1", scale_ns.to_bytes(3, "big")))
    track = _ebml(
        b"\xae",
        _ebml(b"\xd7", b"\x01") + _ebml(b"\x83", b"\x11")
        + _ebml(b"\x86", codec),
    )
    tracks = _ebml(b"\x16\x54\xae\x6b", track)
    blocks = b""
    for t, dur, text in cues:
        frame = b"\x81" + t.to_bytes(2, "big") + b"\x00" + text.encode()
        if simple:
            blocks += _ebml(b"\xa3", frame)
        else:
            blocks += _ebml(
                b"\xa0",
                _ebml(b"\xa1", frame)
                + _ebml(b"\x9b", dur.to_bytes(2, "big")),
            )
    cluster = _ebml(b"\x1f\x43\xb6\x75",
                    _ebml(b"\xe7", b"\x00") + blocks)
    return (_ebml(b"\x1a\x45\xdf\xa3", b"")
            + _ebml(b"\x18\x53\x80\x67", info + tracks + cluster))


def test_mp4_subtitle_extraction():
    """tx3g sample-table walk: cue times from stts x mdhd timescale,
    text from the 2-byte-length samples, gap samples skipped."""
    from opencosmo_spark.pipeline.multimodal import _mp4_subtitles

    mp4 = _make_mp4_subs(
        [("Hello there.", 2000), ("General Kenobi!", 1500)],
        timescale=1000, gaps=True,
    )
    cues = _mp4_subtitles(mp4)
    assert cues == [
        (0, 2000, "Hello there."),
        (3000, 4500, "General Kenobi!"),
    ]
    # handler 'sbtl' variant and a 90kHz timescale
    alt = _make_mp4_subs([("hi", 90000)], timescale=90000,
                         handler=b"sbtl")
    assert _mp4_subtitles(alt) == [(0, 1000, "hi")]
    # a video-only mp4 has no cues but IS bmff; junk is None
    assert _mp4_subtitles(_make_mp4(duration_ms=2000)) == []
    assert _mp4_subtitles(b"RIFFxxxxWEBP") is None


def test_webm_subtitle_extraction():
    """S_TEXT/UTF8 cluster walk: BlockGroup duration and SimpleBlock
    forms, TimecodeScale honored, non-subtitle codecs ignored."""
    from opencosmo_spark.pipeline.multimodal import _webm_subtitles

    webm = _make_webm_subs(
        [(0, 1800, "first cue"), (2500, 900, "second cue")]
    )
    assert _webm_subtitles(webm) == [
        (0, 1800, "first cue"),
        (2500, 3400, "second cue"),
    ]
    simple = _make_webm_subs([(100, 0, "simple form")], simple=True)
    assert _webm_subtitles(simple) == [(100, 100, "simple form")]
    # 500us ticks double every time value
    scaled = _make_webm_subs([(10, 4, "s")], scale_ns=500_000)
    assert _webm_subtitles(scaled) == [(5, 7, "s")]
    # an audio-codec track with the same layout yields no cues
    nosub = _make_webm_subs([(0, 10, "x")], codec=b"A_OPUS")
    assert _webm_subtitles(nosub.replace(b"\x83\x81\x11", b"\x83\x81\x02")) == []
    assert _webm_subtitles(_make_webm(duration_ms=500)) == []
    assert _webm_subtitles(b"junk") is None


def test_video_subtitles_spark_ledger(spark):
    """video_subtitles fans cue rows out per file and keeps
    subtitle-less files visible with NULL cue fields — the honest
    ledger; the text column feeds corpus curation as-is."""
    from pyspark.sql import functions as sf

    from opencosmo_spark.pipeline.multimodal import video_subtitles

    mp4 = _make_mp4_subs([("line one", 1000), ("line two", 1000)])
    webm = _make_webm_subs([(0, 500, "webm cue")])
    plain = _make_mp4(duration_ms=3000)  # video, no subtitle track
    df = spark.createDataFrame(
        [("a", mp4), ("b", webm), ("c", plain), ("d", b"garbage")],
        "media_id string, payload binary",
    )
    out = video_subtitles(df).toPandas()
    a = out[out.media_id == "a"].sort_values("cue_idx")
    assert list(a.text) == ["line one", "line two"]
    assert list(a.t_start_ms) == [0, 1000]
    assert a.sub_format.iloc[0] == "mp4"
    b = out[out.media_id == "b"]
    assert list(b.text) == ["webm cue"] and b.sub_format.iloc[0] == "webm"
    c = out[out.media_id == "c"]
    assert len(c) == 1 and c.text.isna().all() and \
        c.sub_format.iloc[0] == "mp4"
    d = out[out.media_id == "d"]
    assert len(d) == 1 and d.sub_format.isna().all()

    # pretraining-text shape: concat per media_id, ready for curation
    docs = (
        video_subtitles(df)
        .filter(sf.col("text").isNotNull())
        .groupBy("media_id")
        .agg(sf.concat_ws("\n", sf.collect_list("text")).alias("text"))
    )
    got = {r.media_id: r.text for r in docs.collect()}
    assert got == {"a": "line one\nline two", "b": "webm cue"}


def test_subtitle_parsers_total_under_mutation():
    """The subtitle walkers never raise on mutated containers — the
    same totality standard as the other metadata tiers."""
    import numpy as np

    from opencosmo_spark.pipeline.multimodal import (
        _mp4_subtitles,
        _webm_subtitles,
    )

    rng = np.random.default_rng(17)
    base_m = bytearray(_make_mp4_subs([("mutate me", 1000)]))
    base_w = bytearray(_make_webm_subs([(0, 100, "mutate me")]))
    for base, fn in ((base_m, _mp4_subtitles), (base_w, _webm_subtitles)):
        for _ in range(300):
            mut = bytearray(base)
            for _ in range(int(rng.integers(1, 5))):
                mut[int(rng.integers(0, len(mut)))] = int(
                    rng.integers(0, 256)
                )
            out = fn(bytes(mut))
            assert out is None or isinstance(out, list)
