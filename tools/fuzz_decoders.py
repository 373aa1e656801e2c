"""Offline totality fuzz over the decoder surfaces.

Hammers the decoders — lossy WebP and partially-interleaved multi-scan
JPEG through the system codec bindings, PDF text/image extraction
(incl. RC4/AES decryption), TIFF, ICO, the audio decoders, media tags
and mp4/WebM subtitle walks — with byte mutations and truncations of
VALID seed payloads produced by the test suite's independent encoder
twins. The contract under fuzz is totality: junk degrades to
None/ledger rows, never an exception out of the decode entry point.

Not a pytest file (runtime is minutes); run ad hoc:

    python tools/fuzz_decoders.py [trials_per_seed]

Exit code 0 = no escape; any escaping exception aborts with the
mutated payload written to /tmp for reproduction.
"""
from __future__ import annotations

import functools
import sys
import traceback
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tests"))


def _mutants(rng, seed_bytes, trials):
    """Byte-flip mutants plus a truncation sweep of one seed payload."""
    data = bytearray(seed_bytes)
    for _ in range(trials):
        mut = bytearray(data)
        for _ in range(rng.integers(1, 8)):
            mut[rng.integers(0, len(mut))] = rng.integers(0, 256)
        yield bytes(mut)
    step = max(1, len(data) // 64)
    for cut in range(0, len(data), step):
        yield bytes(data[:cut])


def _hammer(name, fn, seeds, rng, trials):
    calls = 0
    for si, seed in enumerate(seeds):
        for mut in _mutants(rng, seed, trials):
            try:
                fn(mut)
            except Exception:
                crash = Path(f"/tmp/fuzz_{name}_{si}.bin")
                crash.write_bytes(mut)
                print(f"ESCAPE in {name} seed {si} -> {crash}")
                traceback.print_exc()
                sys.exit(1)
            calls += 1
    print(f"{name}: {calls} calls clean")
    return calls


def main(trials):
    rng = np.random.default_rng(13)
    hammer = functools.partial(_hammer, trials=trials)
    total = 0

    # --- lossy WebP ----------------------------------------------------
    from test_vp8 import _LW, lw_encode, make_image
    from opencosmo_spark.pipeline.native_codecs import (
        decode_jpeg_native,
        decode_tiff_native,
        decode_webp_native,
    )

    seeds = []
    if _LW is not None:
        for kind, q in (("mix", 40), ("grad", 75), ("noise", 90)):
            seeds.append(lw_encode(make_image(48, 40, kind, rng), q))
    total += hammer("vp8", decode_webp_native, seeds, rng)

    # --- partially-interleaved + multi-scan JPEG ----------------------
    from test_analysis_multimodal import (
        _make_jpeg_partial,
        _make_jpeg_multiscan,
    )

    rgb = (rng.integers(0, 256, (40, 48, 3))).astype(np.uint8)
    seeds = [
        _make_jpeg_partial(rgb)[0],
        _make_jpeg_partial(rgb, subsample=True, restart=2)[0],
        _make_jpeg_multiscan(rgb)[0],
    ]
    total += hammer("jpeg_scans", decode_jpeg_native, seeds, rng)

    # --- PDF text + image extraction incl. decryption -----------------
    from test_pdf import (
        make_pdf,
        make_pdf_objstm,
        make_scanned_pdf,
        _flate_image,
    )
    from opencosmo_spark.pipeline.pdf import (
        extract_pdf_text,
        extract_pdf_images,
    )

    pages = [b"BT /F1 12 Tf 72 700 Td (fuzz seed text) Tj ET"]
    img = (rng.integers(0, 256, (16, 16, 3))).astype(np.uint8)
    scanned = make_scanned_pdf([_flate_image(img)])
    seeds = [
        make_pdf(pages, compress=True),
        make_pdf(pages, encrypted=True),
        make_pdf_objstm(pages),
        scanned,
    ]
    total += hammer("pdf_text", extract_pdf_text, seeds, rng)
    total += hammer("pdf_images", extract_pdf_images, [scanned], rng)

    # --- TIFF / AIFF / AU / ADPCM / media tags -------------------------
    from test_tiff import make_tiff, _img
    from test_aiff_au import aiff_file, au_file
    from test_adpcm import ima_encode, ms_encode, wav_file
    from test_mediatags import (
        id3v2 as mk_id3, t_frame, lang_frame, flac_with_tags,
        ogg_vorbis_with_tags, mp4_with_tags,
    )
    from opencosmo_spark.pipeline.multimodal import (
        _decode_aiff,
        _decode_au,
        _decode_wav,
    )
    from opencosmo_spark.pipeline.mediatags import _PARSERS

    from test_ico import ico_file, _dib
    from opencosmo_spark.pipeline.multimodal import _decode_ico

    total += hammer(
        "ico", _decode_ico,
        [ico_file([_dib(_img(16, 16, 3, 9), 32)], [(16, 16)])],
        rng,
    )
    total += hammer(
        "tiff", decode_tiff_native,
        [make_tiff(_img(20, 24, 3, 1), comp=5),
         make_tiff(_img(16, 16, 1, 2), comp=32773, rows_per_strip=5)],
        rng,
    )
    sig = list(range(-100, 100)) * 4
    total += hammer("aiff", _decode_aiff,
                     [aiff_file([sig], 8000, 16)], rng)
    total += hammer("au", _decode_au, [au_file([sig], 8000, 3)], rng)
    ima_payload, _ = ima_encode([sig], 33)
    ms_payload, _ = ms_encode([sig], 32)
    total += hammer(
        "wav_adpcm", _decode_wav,
        [wav_file(0x11, 1, 8000, 20, 33, ima_payload),
         wav_file(2, 1, 8000, 22, 32, ms_payload)],
        rng,
    )

    from opencosmo_spark.pipeline.mediatags import _ART_PARSERS

    def parse_all_tags(blob):
        for parse in _PARSERS:
            parse(blob)
        for _name, art_fn in _ART_PARSERS:
            art_fn(blob)

    total += hammer(
        "mediatags", parse_all_tags,
        [mk_id3([("TIT2", t_frame("t")),
                 ("USLT", lang_frame("eng", "", "l"))]),
         flac_with_tags([("TITLE", "t")]),
         ogg_vorbis_with_tags([("TITLE", "t")], split=True),
         mp4_with_tags([(b"\xa9nam", b"t")])],
        rng,
    )

    # --- FLAC native frame decode --------------------------------------
    from test_flac import flac_file, _sig
    from opencosmo_spark.pipeline.flac import decode_flac_samples

    seeds = [
        flac_file(
            [[_sig(512, 1, -3000, 3000)]], 44100, 16,
            specs=[[{"type": "fixed", "order": 2, "rice_k": 6,
                     "part_order": 2}]],
        ),
        flac_file(
            [[_sig(256, 2, -900, 900), _sig(256, 3, -900, 900)]],
            48000, 24, chan_mode="mid_side",
            specs=[[{"type": "lpc", "order": 4,
                     "coefs": [900, -300, 120, -40], "shift": 9,
                     "precision": 12, "rice_k": 11},
                    {"type": "verbatim"}]],
        ),
    ]
    total += hammer("flac", decode_flac_samples, seeds, rng)

    # --- subtitle walks ------------------------------------------------
    from test_analysis_multimodal import _make_mp4_subs, _make_webm_subs
    from opencosmo_spark.pipeline.multimodal import (
        _mp4_subtitles,
        _webm_subtitles,
    )

    mp4_cues = [("first cue", 1200), ("second cue", 900)]
    webm_cues = [(0, 1200, "first cue"), (1500, 900, "second cue")]
    total += hammer(
        "mp4_subs", _mp4_subtitles, [_make_mp4_subs(mp4_cues)], rng
    )
    total += hammer(
        "webm_subs", _webm_subtitles, [_make_webm_subs(webm_cues)], rng
    )

    print(f"TOTAL {total} decode calls, zero escapes")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 600)
