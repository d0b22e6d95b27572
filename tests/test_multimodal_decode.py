"""Unit tests for the multimodal decoders.

The registry-level oracle tests value-gate every query end to end
through Spark; these tests call each decode stage's kernel directly on
payload bytes the synthesizers never produce (extra chunks, odd-size
padding, AC and refinement data, restart markers, malformed input), so
they need no Spark job. One test sends a malformed payload through the
Spark driver.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import Row

from energy_datalake_solution_spark.operators import multimodal as mm


def _rows(stats_of, schema, payload: bytes, doc_id: int = 1) -> list[Row]:
    """One payload's stat rows, straight from a decode stage's kernel."""
    return [Row(**dict(zip(schema.names, r))) for r in stats_of(doc_id, bytes(payload))]


def _synth_rows(payload_of, stats_of, schema, doc_ids) -> list[Row]:
    """Synthesize and decode each doc_id's payload."""
    return [r for i in doc_ids for r in _rows(stats_of, schema, payload_of(i), i)]


def _wav(samples: np.ndarray, sr: int = 8000, extra_chunks: bytes = b"") -> bytes:
    """Build a 16-bit PCM WAV around an (n_frames, n_ch) int matrix."""
    n_ch = samples.shape[1]
    data = samples.astype("<i2").tobytes()
    block_align = n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, sr, sr * block_align, block_align, 16)
    body = (
        b"WAVE"
        + extra_chunks
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_one(payload: bytes):
    return _rows(mm._pcm_stats, mm.WAV_STATS_SCHEMA, payload)


def test_decodes_stereo_samples_exactly():
    left = np.array([0, 100, -100, 32767, -32768], dtype=np.int64)
    right = np.array([5, -5, 250, -250, 0], dtype=np.int64)
    rows = _decode_one(_wav(np.stack([left, right], axis=1), sr=44100))
    assert [r["channel"] for r in rows] == [0, 1]
    for r, ch in zip(rows, (left, right)):
        assert r["n_frames"] == 5
        assert r["sample_rate"] == 44100
        assert r["peak_amp"] == int(np.abs(ch).max())
        assert r["mean_amp"] == pytest.approx(ch.mean(), abs=1e-6)
        assert r["rms_amp"] == pytest.approx(np.sqrt((ch.astype(float) ** 2).mean()), abs=1e-6)


def test_skips_unknown_and_odd_sized_chunks():
    # a 3-byte LIST chunk forces the word-alignment (size & 1) padding path;
    # the decoder must still find fmt/data after it
    extra = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    mono = np.array([[7], [-7], [21]], dtype=np.int64)
    rows = _decode_one(_wav(mono, sr=16000, extra_chunks=extra))
    assert len(rows) == 1
    assert rows[0]["n_frames"] == 3
    assert rows[0]["peak_amp"] == 21


@pytest.mark.parametrize(
    "payload",
    [
        b"\x89PNG\r\n\x1a\nnot audio",  # wrong container
        b"RIFF\x04\x00\x00\x00WAVE",  # no fmt/data chunks
    ],
)
def test_malformed_payload_raises(payload):
    with pytest.raises(Exception, match="not a RIFF/WAVE|missing fmt/data"):
        _decode_one(payload)


def test_driver_surfaces_the_decoders_refusal(spark):
    """A malformed payload sent through the Spark driver fails the job
    with the decoder's own message."""
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\nnot audio")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="not a RIFF/WAVE payload"):
        mm.decode_wav_pcm_stats(df).collect()


# ---------------------------------------------------------------------------
# BMP decoder (image sibling of the WAV tier)
# ---------------------------------------------------------------------------


def _bmp(px: np.ndarray) -> bytes:
    """Build a 24-bit bottom-up BMP around an (h, w, 3) BGR uint8 cube."""
    h, w, _ = px.shape
    stride = (3 * w + 3) // 4 * 4
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : 3 * w] = px[::-1].reshape(h, 3 * w)
    data = raster.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 54) + info + data


def _decode_bmp(payload: bytes):
    return _rows(mm._channel_stats(mm._bmp), mm.CHANNEL_STATS_SCHEMA, payload)


def test_bmp_decode_unflips_rows_and_strips_padding():
    # 3x2 image (stride 12 -> 3 pad bytes/row): corner_val must be the
    # IMAGE top-left, which sits in the LAST stored row of the bottom-up
    # raster — a decoder that skips the flip reads the bottom-left instead.
    px = np.zeros((2, 3, 3), dtype=np.uint8)
    px[0, 0] = (11, 12, 13)   # image top-left (B,G,R)
    px[1, 0] = (99, 98, 97)   # image bottom-left — the wrong answer
    px[1, 2] = (0, 0, 255)
    rows = _decode_bmp(_bmp(px))
    assert [r["channel"] for r in rows] == [0, 1, 2]
    assert [r["corner_val"] for r in rows] == [11, 12, 13]
    assert rows[0]["width"] == 3 and rows[0]["height"] == 2
    assert rows[2]["max_val"] == 255
    for ch in range(3):
        assert rows[ch]["mean_val"] == pytest.approx(px[:, :, ch].mean(), abs=1e-6)


def test_bmp_malformed_or_unsupported_raises():
    with pytest.raises(Exception, match="not a BMP"):
        _decode_bmp(b"PNG?nope")
    # 8-bit palette BMP must be rejected, not silently misdecoded
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 16, 0, 0, 0, 0)
    bad = struct.pack("<2sIHHI", b"BM", 14 + 40 + 16, 0, 0, 54) + info + b"\x00" * 16
    with pytest.raises(Exception, match="unsupported BMP"):
        _decode_bmp(bad)


def _decode_png(payload: bytes):
    return _rows(mm._channel_stats(mm._png), mm.CHANNEL_STATS_SCHEMA, payload)


def _png_rgb(px: np.ndarray, filters: list[int]) -> bytes:
    """Encode an (h, w, 3) uint8 cube as a spec-valid PNG with the given
    per-row filter types — an independent reference encoder (pure python,
    byte-at-a-time) distinct from the vectorized synth in multimodal.py."""
    import zlib

    from energy_datalake_solution_spark.operators.multimodal import (
        _PNG_SIG,
        _paeth,
        _png_chunk,
    )

    h, w, _ = px.shape
    stride = w * 3
    raster = px.reshape(h, stride).astype(int)
    out = bytearray()
    prior = [0] * stride
    for y in range(h):
        raw = list(raster[y])
        f = filters[y % len(filters)]
        out.append(f)
        for k in range(stride):
            left = raw[k - 3] if k >= 3 else 0
            ul = prior[k - 3] if k >= 3 else 0
            if f == 0:
                v = raw[k]
            elif f == 1:
                v = raw[k] - left
            elif f == 2:
                v = raw[k] - prior[k]
            elif f == 3:
                v = raw[k] - (left + prior[k]) // 2
            else:
                v = raw[k] - _paeth(left, prior[k], ul)
            out.append(v % 256)
        prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def test_png_decode_every_filter_type():
    """A 4x5 image encoded with one row per filter type (None, Sub, Up,
    Average, Paeth): decode must reproduce every pixel — proven via the
    per-channel stats AND the position-sensitive corner."""
    rng = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(5, 4, 3) * 7 % 256
    rng[0, 0] = (200, 100, 50)
    payload = _png_rgb(rng, filters=[0, 1, 2, 3, 4])
    rows = _decode_png(payload)
    assert [r["channel"] for r in rows] == [0, 1, 2]
    assert [r["corner_val"] for r in rows] == [200, 100, 50]
    assert rows[0]["width"] == 4 and rows[0]["height"] == 5
    for ch in range(3):
        assert rows[ch]["mean_val"] == pytest.approx(rng[:, :, ch].mean(), abs=1e-6)
        assert rows[ch]["min_val"] == int(rng[:, :, ch].min())
        assert rows[ch]["max_val"] == int(rng[:, :, ch].max())


def test_png_decode_rejects_corruption_and_unsupported():
    px = np.full((2, 3, 3), 9, dtype=np.uint8)
    good = _png_rgb(px, filters=[4])
    # flip one IDAT byte: CRC verification must catch it
    bad = bytearray(good)
    idat_at = good.index(b"IDAT")
    bad[idat_at + 6] ^= 0xFF
    with pytest.raises(Exception, match="bad CRC"):
        _decode_png(bytes(bad))
    with pytest.raises(Exception, match="not a PNG"):
        _decode_png(b"BM?nope")
    # 16-bit depth must be rejected, not misdecoded
    from energy_datalake_solution_spark.operators.multimodal import _PNG_SIG, _png_chunk
    import zlib
    ihdr16 = struct.pack(">IIBBBBB", 3, 2, 16, 2, 0, 0, 0)
    p16 = (_PNG_SIG + _png_chunk(b"IHDR", ihdr16)
           + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 38)) + _png_chunk(b"IEND", b""))
    with pytest.raises(Exception, match="unsupported PNG"):
        _decode_png(p16)


def test_png_synth_roundtrip_matches_formula():
    """The PNG synthesizer -> decoder over a doc_id range covering all
    (w, h, filter-phase) combinations reproduces the generating formula
    exactly."""
    rows = _synth_rows(
        mm._png_payload, mm._channel_stats(mm._png), mm.CHANNEL_STATS_SCHEMA, range(40)
    )
    assert len(rows) == 40 * 3
    for r in rows:
        i, ch = r["doc_id"], r["channel"]
        w, h = 3 + i % 5, 2 + i % 4
        vals = [
            (i * 149 + y * 41 + x * 13 + ch * 5) % 256
            for y in range(h)
            for x in range(w)
        ]
        assert r["width"] == w and r["height"] == h
        assert r["corner_val"] == (i * 149 + ch * 5) % 256
        assert r["min_val"] == min(vals) and r["max_val"] == max(vals)
        assert r["mean_val"] == pytest.approx(sum(vals) / len(vals), abs=1e-6)


# --------------------------------------------------------------------------
# GIF: pure-Python LZW
# --------------------------------------------------------------------------


def test_gif_lzw_roundtrip_covers_growth_kwkwk_and_reset():
    """The LZW pair must survive: literal runs (KwKwK chains), random
    bytes (dictionary growth through every width switch 9->12), and
    streams long enough to hit the 4096-entry CLEAR reset."""
    import random

    from energy_datalake_solution_spark.operators.multimodal import (
        _lzw_compress,
        _lzw_decompress,
    )

    rng = random.Random(7)
    cases = [
        bytes([1]),
        b"\x00" * 5000,                    # KwKwK chain
        bytes(range(256)) * 20,            # periodic — deep dictionary
        bytes(rng.randrange(256) for _ in range(10000)),  # full reset path
        bytes([5, 5, 5, 6, 6, 6]) * 700,
    ]
    for b in cases:
        assert _lzw_decompress(_lzw_compress(b)) == b


def test_gif_synth_roundtrip_matches_formula():
    """The GIF synthesizer -> decoder over a doc_id range covering all
    (w, h) combinations reproduces the palette-composed generating
    formula exactly."""
    rows = _synth_rows(
        mm._gif_payload, mm._channel_stats(mm._gif), mm.CHANNEL_STATS_SCHEMA, range(40)
    )
    assert len(rows) == 40 * 3
    for r in rows:
        i, ch = r["doc_id"], r["channel"]
        w, h = 4 + i % 5, 3 + i % 4
        vals = [
            (((i * 157 + y * 43 + x * 17) % 256) * 5 + ch * 11 + i) % 256
            for y in range(h)
            for x in range(w)
        ]
        assert r["width"] == w and r["height"] == h
        assert r["corner_val"] == (((i * 157) % 256) * 5 + ch * 11 + i) % 256
        assert r["min_val"] == min(vals) and r["max_val"] == max(vals)
        assert r["mean_val"] == pytest.approx(sum(vals) / len(vals), abs=1e-6)


def test_gif_decode_rejects_corruption_and_unsupported():
    """Bad magic, a truncated LZW stream, and an interlaced image
    descriptor must all raise, not return wrong pixels."""
    payload = bytearray(mm._gif_payload(0))

    def run(buf: bytes):
        _rows(mm._channel_stats(mm._gif), mm.CHANNEL_STATS_SCHEMA, buf, 0)

    for mutate in (
        lambda b: b"JIF89a" + bytes(b[6:]),          # bad magic
        lambda b: bytes(b[: len(b) // 2]),            # truncated mid-stream
    ):
        with pytest.raises(Exception):
            run(mutate(payload))

    # interlace flag on the image descriptor (after 13-byte LSD + 768-byte
    # GCT + 8-byte GCE, the descriptor's packed byte is at offset +9)
    desc = 13 + 768 + 8
    assert payload[desc] == 0x2C
    bad = bytearray(payload)
    bad[desc + 9] |= 0x40
    with pytest.raises(Exception):
        run(bytes(bad))


# --------------------------------------------------------------------------
# JPEG (baseline SOF0: Huffman + dequant + zigzag + IDCT)
# --------------------------------------------------------------------------


def _decode_jpeg(payload: bytes):
    return _rows(mm._jpeg_gray_stats, mm.JPEG_STATS_SCHEMA, payload)


def _decode_jpeg_rgb(payload: bytes):
    return _rows(mm._jpeg_rgb_stats, mm.JPEG_COLOR_STATS_SCHEMA, payload)


def test_jpeg_synth_roundtrip_matches_formula():
    """Decoding the synthesized payloads reproduces the generating
    formula exactly — the bit-exactness claim (constant blocks + unit
    quantization) that lets a lossy codec sit under a hash gate."""
    rows = _synth_rows(
        mm._jpeg_payload, mm._jpeg_gray_stats, mm.JPEG_STATS_SCHEMA, range(40)
    )
    assert len(rows) == 40
    for r in rows:
        i = r.doc_id
        bw, bh = 1 + i % 3, 1 + i % 2
        vals = [
            (i * 37 + bx * 59 + by * 83) % 256
            for by in range(bh)
            for bx in range(bw)
        ]
        assert (r.width, r.height) == (8 * bw, 8 * bh)
        assert r.min_val == min(vals) and r.max_val == max(vals)
        assert r.corner_val == (i * 37) % 256
        assert abs(r.mean_val - sum(vals) / len(vals)) < 1e-6


def test_jpeg_ac_coefficients_decode_through_full_path():
    """The decoder's AC machinery is real, not an EOB shortcut: a
    hand-built payload with a nonzero AC coefficient (run-length 2,
    size-coded magnitude, then EOB) must decode to the IDCT of that
    coefficient pattern computed independently in numpy."""
    import struct

    import numpy as np

    from energy_datalake_solution_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_ZIGZAG,
        _JpegBitWriter,
        _jpeg_dht,
        _jpeg_huff_codes,
    )

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    head = bytearray(b"\xff\xd8")
    head += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    head += (b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
             + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    head += _jpeg_dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
    head += _jpeg_dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)
    head += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    w = _JpegBitWriter()
    # DC = 0 (category 0)
    code, length = dc_codes[0]
    w.put(code, length)
    # skip 2 zero ACs, then coefficient +20 (category 5) at zigzag index 3
    code, length = ac_codes[(2 << 4) | 5]
    w.put(code, length)
    w.put(20, 5)
    code, length = ac_codes[0x00]  # EOB
    w.put(code, length)
    payload = bytes(head) + w.flush() + b"\xff\xd9"

    (r,) = _decode_jpeg(payload)

    # independent reconstruction: coef at zigzag index 3 = (2, 0)
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    M = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    M[0, :] *= 1 / np.sqrt(2)
    coef = np.zeros((8, 8))
    rr, cc = _JPEG_ZIGZAG[3]
    coef[rr, cc] = 20.0
    px = np.clip(np.rint(M.T @ coef @ M + 128), 0, 255)
    assert r.corner_val == int(px[0, 0])
    assert r.min_val == int(px.min()) and r.max_val == int(px.max())
    assert abs(r.mean_val - round(float(px.mean()), 6)) < 1e-9


def test_jpeg_malformed_or_unsupported_raises():
    good = mm._jpeg_payload(3)
    with pytest.raises(Exception, match="SOI"):
        _decode_jpeg(b"not a jpeg")
    with pytest.raises(Exception, match="EOI|truncated|marker"):
        _decode_jpeg(good[:-4])  # EOI and tail bits gone
    # a baseline scan under a progressive SOF2 frame must be refused,
    # not mis-decoded
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(Exception, match="baseline|progressive"):
        _decode_jpeg(prog)
    # each stats reader refuses the other's component count
    with pytest.raises(Exception, match="3-component"):
        _decode_jpeg_rgb(good)
    with pytest.raises(Exception, match="1-component"):
        _decode_jpeg(mm._jpeg_color_payload(3, 1, 1, 0))


def test_jpeg_420_synth_roundtrip_matches_formula():
    """Decoding the synthesized 4:2:0 payloads reproduces the generating
    formulas through the full subsampled pipeline — six-block MCUs,
    per-component DC prediction, quarter-res chroma box-upsampled —
    with libjpeg's fixed-point color transform applied per pixel."""
    rows = _synth_rows(
        lambda i: mm._jpeg_color_payload(i, 2, 2, 2),
        mm._jpeg_rgb_stats, mm.JPEG_COLOR_STATS_SCHEMA, range(36),
    )
    assert len(rows) == 36

    def transform(y, cb, cr):
        cb, cr = cb - 128, cr - 128
        r = y + (91881 * cr + 32768) // 65536
        g = y + (-22554 * cb - 46802 * cr + 32768) // 65536
        b = y + (116130 * cb + 32768) // 65536
        return tuple(min(255, max(0, v)) for v in (r, g, b))

    for row in rows:
        i = row.doc_id
        mw, mh = 1 + i % 2, 1 + i % 3
        assert (row.width, row.height) == (16 * mw, 16 * mh)
        px = []
        for by in range(2 * mh):
            for bx in range(2 * mw):
                y = (i * 37 + bx * 59 + by * 83) % 256
                cb = (i * 41 + (bx // 2) * 67 + (by // 2) * 89) % 256
                cr = (i * 43 + (bx // 2) * 71 + (by // 2) * 97) % 256
                px.append(transform(y, cb, cr))
        n = len(px)
        assert abs(row.mean_r - round(sum(p[0] for p in px) / n, 6)) < 1e-9
        assert abs(row.mean_g - round(sum(p[1] for p in px) / n, 6)) < 1e-9
        assert abs(row.mean_b - round(sum(p[2] for p in px) / n, 6)) < 1e-9
        assert (row.corner_r, row.corner_g, row.corner_b) == px[0]


def test_jpeg_420_rejects_unaligned_dims():
    """A 4:2:0 stream whose dims are not MCU-aligned raises loudly
    (partial-MCU edge handling is out of the documented subset)."""
    import struct

    import pytest as _pytest

    from energy_datalake_solution_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_C_BITS,
        _JPEG_AC_C_VALS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_C_BITS,
        _JPEG_DC_C_VALS,
        _JPEG_DC_VALS,
        _jpeg_dht,
    )

    head = bytearray(b"\xff\xd8")
    head += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    head += (b"\xff\xc0" + struct.pack(">H", 17) + bytes([8])
             + struct.pack(">HH", 8, 8) + bytes([3])     # 8x8: not 16-aligned
             + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]))
    head += _jpeg_dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
    head += _jpeg_dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)
    head += _jpeg_dht(0x01, _JPEG_DC_C_BITS, _JPEG_DC_C_VALS)
    head += _jpeg_dht(0x11, _JPEG_AC_C_BITS, _JPEG_AC_C_VALS)
    head += (b"\xff\xda" + struct.pack(">H", 12)
             + bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    payload = bytes(head) + b"\x00" + b"\xff\xd9"
    with _pytest.raises(Exception, match="MCU-aligned"):
        _decode_jpeg_rgb(payload)


def test_jpeg_progressive_synth_roundtrip_matches_formula():
    """The three-scan progressive fixtures (DC first at Al=1, DC
    refinement bits, EOB-run AC scan) reconstruct the generating
    formula exactly through the multi-scan decoder."""
    rows = _synth_rows(
        mm._jpeg_progressive_payload, mm._jpeg_gray_stats, mm.JPEG_STATS_SCHEMA, range(40)
    )
    assert len(rows) == 40
    for r in rows:
        i = r.doc_id
        bw, bh = 1 + i % 3, 1 + i % 2
        vals = [
            (i * 37 + bx * 59 + by * 83) % 256
            for by in range(bh)
            for bx in range(bw)
        ]
        assert (r.width, r.height) == (8 * bw, 8 * bh)
        assert r.min_val == min(vals) and r.max_val == max(vals)
        assert r.corner_val == (i * 37) % 256
        assert abs(r.mean_val - sum(vals) / len(vals)) < 1e-6


def test_jpeg_progressive_ac_refinement_correction_bits():
    """The AC-refinement machinery is real: a hand-built stream whose
    second AC scan refines an existing coefficient (correction bit) AND
    inserts a new ±1 coefficient must decode to the IDCT of the final
    coefficient pattern computed independently in numpy."""
    import struct

    import numpy as np

    from energy_datalake_solution_spark.operators.multimodal import (
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_PROG_AC_BITS,
        _JPEG_PROG_AC_VALS,
        _JPEG_ZIGZAG,
        _JpegBitWriter,
        _jpeg_dht,
        _jpeg_huff_codes,
    )

    # AC table for the FIRST scan needs real (r, s) symbols too
    ac_bits = [0, 0, 7, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    ac_vals = [0x00, 0x10, 0x20, 0x23, 0x31, 0x13, 0x33]
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(ac_bits, ac_vals)

    head = bytearray(b"\xff\xd8")
    head += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    head += (b"\xff\xc2" + struct.pack(">H", 11) + bytes([8])
             + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
    head += _jpeg_dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
    head += _jpeg_dht(0x11, ac_bits, ac_vals)
    body = bytearray()
    # scan 1: DC full precision (Al=0), diff 0 -> DC stays 0
    body += (b"\xff\xda" + struct.pack(">H", 8)
             + bytes([1, 1, 0x00, 0, 0, 0x00]))
    w = _JpegBitWriter()
    code, length = dc_codes[0]
    w.put(code, length)
    body += w.flush()
    # scan 2: AC first, band 1..63, Al=1 — coefficient +5 at zigzag
    # index 3 (skip 2 zeros, category 3), then EOB0. Reconstructs as 10.
    body += (b"\xff\xda" + struct.pack(">H", 8)
             + bytes([1, 1, 0x01, 1, 63, 0x01]))
    w = _JpegBitWriter()
    code, length = ac_codes[0x23]
    w.put(code, length)
    w.put(5, 3)
    code, length = ac_codes[0x00]
    w.put(code, length)
    body += w.flush()
    # scan 3: AC refinement Ah=1, Al=0 — insert +1 at zigzag index 5
    # (r=3 zero-history skips; the nonzero at index 3 takes a correction
    # bit of 1 en route: 10 -> 11), then EOB0 (tail corrections: none).
    body += (b"\xff\xda" + struct.pack(">H", 8)
             + bytes([1, 1, 0x01, 1, 63, 0x10]))
    w = _JpegBitWriter()
    code, length = ac_codes[0x31]
    w.put(code, length)
    w.put(1, 1)   # sign of the new coefficient: positive
    w.put(1, 1)   # correction bit for the existing coefficient at idx 3
    code, length = ac_codes[0x00]
    w.put(code, length)
    body += w.flush()
    payload = bytes(head) + bytes(body) + b"\xff\xd9"

    (r,) = _decode_jpeg(payload)

    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    M = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    M[0, :] *= 1 / np.sqrt(2)
    coef = np.zeros((8, 8))
    coef[_JPEG_ZIGZAG[3]] = 11.0   # 10 + correction bit at Al=0
    coef[_JPEG_ZIGZAG[5]] = 1.0    # inserted in the refinement scan
    px = np.clip(np.rint(M.T @ coef @ M + 128), 0, 255)
    assert r.corner_val == int(px[0, 0])
    assert r.min_val == int(px.min()) and r.max_val == int(px.max())
    assert abs(r.mean_val - round(float(px.mean()), 6)) < 1e-9


def test_jpeg_restart_marker_sequence_is_validated():
    """A restart marker with the wrong modulo-8 index (a lost or
    reordered entropy segment) fails loudly, not with garbage pixels."""
    buf = bytearray(mm._jpeg_color_payload(1, 2, 2, 2))  # doc 1: 2x2 MCUs, RST0 at MCU 2
    # corrupt the first RST marker's index (0xD0 -> 0xD5)
    for i in range(len(buf) - 1):
        if buf[i] == 0xFF and buf[i + 1] == 0xD0:
            buf[i + 1] = 0xD5
            break
    else:
        raise AssertionError("fixture carries no RST0 marker")
    with pytest.raises(Exception, match="RST|restart"):
        _decode_jpeg_rgb(bytes(buf))


def test_jpeg_grayscale_restart_markers_decode():
    """A grayscale baseline JPEG carrying DRI + RSTn markers decodes:
    the reader byte-aligns at each interval, consumes the modulo-8
    marker, and resets the DC predictor (T.81 F.2.1.3.1). Two DC-only
    blocks with DRI=1: block 1 DC=0 (pixels 128), block 2 DC diff=+16
    coded AFTER the predictor reset (pixels 130)."""
    import struct

    from energy_datalake_solution_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JpegBitWriter,
        _jpeg_dht,
        _jpeg_huff_codes,
    )

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    head = bytearray(b"\xff\xd8")
    head += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    head += (b"\xff\xc0" + struct.pack(">H", 11) + bytes([8])
             + struct.pack(">HH", 8, 16) + bytes([1, 1, 0x11, 0]))
    head += _jpeg_dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
    head += _jpeg_dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)
    head += b"\xff\xdd" + struct.pack(">H", 4) + struct.pack(">H", 1)  # DRI=1
    head += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    # segment 1: DC=0 + EOB
    w1 = _JpegBitWriter()
    code, length = dc_codes[0]
    w1.put(code, length)
    code, length = ac_codes[0x00]
    w1.put(code, length)
    # segment 2 (after RST0, predictor reset): DC diff=+16 (category 5)
    w2 = _JpegBitWriter()
    code, length = dc_codes[5]
    w2.put(code, length)
    w2.put(16, 5)
    code, length = ac_codes[0x00]
    w2.put(code, length)
    payload = (bytes(head) + w1.flush() + b"\xff\xd0" + w2.flush()
               + b"\xff\xd9")

    (r,) = _decode_jpeg(payload)
    assert (r.width, r.height) == (16, 8)
    assert r.corner_val == 128
    assert r.min_val == 128 and r.max_val == 130
    assert abs(r.mean_val - 129.0) < 1e-9

    # a wrong-index restart marker still fails loudly
    bad = bytearray(payload)
    i = bad.rfind(b"\xff\xd0")
    bad[i + 1] = 0xD4
    with pytest.raises(Exception, match="RST|restart"):
        _decode_jpeg(bytes(bad))


def test_adpcm_decode_matches_reference_state_machine():
    """The IMA ADPCM decoder reproduces an independently-coded reference
    decode (separate implementation of the spec tables/clamps) on the
    synthesized payloads, and rejects non-ADPCM or multichannel input."""
    import struct

    import numpy as np

    from energy_datalake_solution_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
    )

    rows = {r.doc_id: r for r in _synth_rows(
        mm._adpcm_payload, mm._adpcm_stats, mm.ADPCM_STATS_SCHEMA, range(25)
    )}
    assert len(rows) == 25
    for i in range(25):
        n_nib = 64 + 8 * (i % 3)
        pred = ((i * 7919) % 2003) - 1001
        idx = i % 89
        out = [pred]
        for k in range(n_nib):
            delta = (i * 13 + k * 7) % 16
            step = _IMA_STEPS[idx]
            diff = (step >> 3) + ((step >> 2) if delta & 1 else 0) \
                + ((step >> 1) if delta & 2 else 0) + (step if delta & 4 else 0)
            pred = max(-32768, min(32767, pred + (-diff if delta & 8 else diff)))
            idx = max(0, min(88, idx + _IMA_INDEX[delta & 7]))
            out.append(pred)
        a = np.asarray(out)
        r = rows[i]
        assert r.n_samples == 1 + n_nib
        assert r.sample_rate == 8000 + (i % 4) * 4000
        assert (r.min_amp, r.max_amp, r.end_amp) == (
            int(a.min()), int(a.max()), int(a[-1])
        )
        assert abs(r.mean_amp - round(float(a.mean()), 6)) < 1e-9

    # malformed / unsupported inputs fail loudly
    buf = bytearray(mm._adpcm_payload(1))

    def run(payload):
        return _rows(mm._adpcm_stats, mm.ADPCM_STATS_SCHEMA, payload)

    with pytest.raises(Exception):
        run(b"JUNK" + bytes(buf[4:]))
    # flip the format tag to PCM: the ADPCM decoder must refuse
    tag_at = buf.find(b"fmt ") + 8
    bad = bytearray(buf)
    bad[tag_at:tag_at + 2] = struct.pack("<H", 1)
    with pytest.raises(Exception):
        run(bytes(bad))
    # three channels are out of the documented subset (mono/stereo only)
    bad = bytearray(buf)
    bad[tag_at + 2:tag_at + 4] = struct.pack("<H", 3)
    with pytest.raises(Exception):
        run(bytes(bad))


def test_g711_expansion_matches_itu_formulas():
    """The mu-law/A-law LUTs match the ITU formulas computed
    independently per byte; known anchor points hold (mu-law 0xFF -> 0,
    0x7F -> -8031... sign conventions pinned); non-G.711 tags refuse."""
    import struct

    from energy_datalake_solution_spark.operators.multimodal import (
        _alaw_expand,
        _mulaw_expand,
    )

    # anchors: full-scale and zero codes of the public tables
    assert _mulaw_expand(0xFF) == 0          # inverted 0x00 -> +0
    assert _mulaw_expand(0x80) == 32124      # inverted 0x7F: max positive
    assert _mulaw_expand(0x00) == -32124
    assert _alaw_expand(0x55) == 8           # xor 0x55 -> 0x00 segment 0
    assert _alaw_expand(0xD5) == -8          # xor 0x55 -> 0x80: signed zero
    assert abs(_alaw_expand(0xAA)) == 32256  # xor 0x55 -> 0xFF: full scale
    # monotone magnitude within a segment (sanity of the formula wiring)
    mags = [abs(_mulaw_expand(0xFF - m)) for m in range(16)]
    assert mags == sorted(mags)

    rows = {r.doc_id: r for r in _synth_rows(
        mm._g711_payload, mm._g711_stats, mm.G711_STATS_SCHEMA, range(12)
    )}
    for i in range(12):
        n = 120 + i % 9
        expand = _mulaw_expand if i % 2 else _alaw_expand
        amps = [expand((i * 19 + k * 11) % 256) for k in range(n)]
        r = rows[i]
        assert r.law == ("mulaw" if i % 2 else "alaw")
        assert r.n_samples == n
        assert (r.min_amp, r.max_amp) == (min(amps), max(amps))
        assert abs(r.mean_amp - round(sum(amps) / n, 6)) < 1e-9

    # PCM-tagged input refuses
    buf = bytearray(mm._g711_payload(1))
    tag_at = buf.find(b"fmt ") + 8
    buf[tag_at:tag_at + 2] = struct.pack("<H", 1)
    with pytest.raises(Exception):
        _rows(mm._g711_stats, mm.G711_STATS_SCHEMA, bytes(buf))


def test_tiff_decode_both_orders_and_packbits():
    """TIFF: II-uncompressed and MM-PackBits payloads decode to the
    generating formula; literal-run and no-op PackBits packets decode;
    malformed inputs refuse."""
    import struct

    rows = {r.doc_id: r for r in _synth_rows(
        mm._tiff_payload, mm._tiff_stats, mm.TIFF_STATS_SCHEMA, range(12)
    )}
    for i in range(12):
        w, h = 16 + 8 * (i % 3), 8 + 4 * (i % 2)
        vals = [(i * 37 + y * 53) % 256 for y in range(h)]
        r = rows[i]
        assert (r.width, r.height) == (w, h)
        assert r.byte_order == ("II" if i % 2 == 0 else "MM")
        assert r.compressed == (i % 2 == 1)
        assert (r.min_val, r.max_val, r.corner_val) == (
            min(vals), max(vals), vals[0]
        )
        assert abs(r.mean_val - round(sum(vals) / h, 6)) < 1e-9

    def run(payload):
        return _rows(mm._tiff_stats, mm.TIFF_STATS_SCHEMA, payload)

    # hand-built MM TIFF whose strip mixes literal runs, a repeat run,
    # and the -128 no-op packet — the three PackBits packet kinds
    en = ">"
    w, h = 4, 2

    def entry(tag, typ, count, value):
        v = struct.pack(en + "HH", value, 0) if typ == 3 else struct.pack(en + "I", value)
        return struct.pack(en + "HHI", tag, typ, count) + v

    # row 0: literal [1,2,3,4]; no-op; row 1: repeat 9 x4
    strip = bytes([3, 1, 2, 3, 4, 128, 257 - 4, 9])
    strip_off = 8 + 2 + 9 * 12 + 4
    buf = struct.pack(en + "2sHI", b"MM", 42, 8)
    buf += struct.pack(en + "H", 9)
    for tag, typ, val in [(256, 3, w), (257, 3, h), (258, 3, 8),
                          (259, 3, 32773), (262, 3, 1),
                          (273, 4, strip_off), (277, 3, 1),
                          (278, 3, h), (279, 4, len(strip))]:
        buf += entry(tag, typ, 1, val)
    buf += struct.pack(en + "I", 0)
    buf += strip
    (r,) = run(buf)
    assert (r.min_val, r.max_val, r.corner_val) == (1, 9, 1)
    assert abs(r.mean_val - round((1 + 2 + 3 + 4 + 9 * 4) / 8, 6)) < 1e-9

    with pytest.raises(Exception):
        run(b"XX" + buf[2:])           # bad magic
    with pytest.raises(Exception):
        run(buf[:len(buf) - 3])        # truncated strip (RLE mismatch)


def test_adpcm_stereo_block_decodes_interleaved_chunks():
    """Stereo IMA ADPCM: per-channel 4-byte headers, data interleaved
    as alternating 4-byte chunks (8 samples L, 8 samples R, ...) —
    decode must match the reference state machine run independently
    per channel."""
    import struct

    import numpy as np

    from energy_datalake_solution_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
    )

    n_nib = 16  # per channel: two 4-byte chunks each
    seeds = [(100, 20), (-300, 45)]  # (pred, idx) per channel
    nibs = [
        [(7 * k + c * 3) % 16 for k in range(n_nib)] for c in range(2)
    ]
    body = bytearray()
    for pred, idx in seeds:
        body += struct.pack("<hBB", pred, idx, 0)
    for j0 in range(0, n_nib, 8):
        for c in range(2):
            for j in range(j0, j0 + 8, 2):
                body.append(nibs[c][j] | (nibs[c][j + 1] << 4))
    block_align = len(body)
    fmt = struct.pack("<HHIIHHHH", 0x11, 2, 8000,
                      (8000 * block_align) // (1 + n_nib),
                      block_align, 4, 2, 1 + n_nib)
    buf = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
           + b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(body)) + bytes(body))

    (r,) = _rows(mm._adpcm_stats, mm.ADPCM_STATS_SCHEMA, buf)

    # reference: run the state machine per channel independently
    all_samples = []
    for c in range(2):
        pred, idx = seeds[c]
        out = [pred]
        for delta in nibs[c]:
            step = _IMA_STEPS[idx]
            diff = (step >> 3) + ((step >> 2) if delta & 1 else 0) \
                + ((step >> 1) if delta & 2 else 0) + (step if delta & 4 else 0)
            pred = max(-32768, min(32767, pred + (-diff if delta & 8 else diff)))
            idx = max(0, min(88, idx + _IMA_INDEX[delta & 7]))
            out.append(pred)
        all_samples += out
    a = np.asarray(all_samples)
    assert r.n_samples == 2 * (1 + n_nib)
    assert (r.min_amp, r.max_amp) == (int(a.min()), int(a.max()))
    assert abs(r.mean_amp - round(float(a.mean()), 6)) < 1e-9


def test_adpcm_multi_block_stream_resets_state_per_block():
    """Multi-block mono ADPCM: the decoder strides blockAlign and each
    block's header RE-SEEDS the predictor/index (spec behavior — blocks
    are independently decodable), so a two-block stream equals the
    concatenation of two independent single-block decodes."""
    import struct

    import numpy as np

    from energy_datalake_solution_spark.operators.multimodal import (
        _IMA_INDEX,
        _IMA_STEPS,
    )

    n_nib = 8
    blocks = [(500, 10, [1, 9, 4, 12, 7, 15, 2, 8]),
              (-2000, 60, [14, 3, 11, 0, 5, 13, 6, 10])]
    body = bytearray()
    for pred, idx, nibs in blocks:
        body += struct.pack("<hBB", pred, idx, 0)
        for j in range(0, n_nib, 2):
            body.append(nibs[j] | (nibs[j + 1] << 4))
    block_align = 4 + n_nib // 2
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000,
                      (8000 * block_align) // (1 + n_nib),
                      block_align, 4, 2, 1 + n_nib)
    buf = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
           + b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(body)) + bytes(body))
    (r,) = _rows(mm._adpcm_stats, mm.ADPCM_STATS_SCHEMA, buf)

    all_samples = []
    for pred, idx, nibs in blocks:
        out = [pred]
        for delta in nibs:
            step = _IMA_STEPS[idx]
            diff = (step >> 3) + ((step >> 2) if delta & 1 else 0) \
                + ((step >> 1) if delta & 2 else 0) + (step if delta & 4 else 0)
            pred = max(-32768, min(32767, pred + (-diff if delta & 8 else diff)))
            idx = max(0, min(88, idx + _IMA_INDEX[delta & 7]))
            out.append(pred)
        all_samples += out
    a = np.asarray(all_samples)
    assert r.n_samples == 2 * (1 + n_nib)
    assert (r.min_amp, r.max_amp, r.end_amp) == (
        int(a.min()), int(a.max()), int(a[-1])
    )
    assert abs(r.mean_amp - round(float(a.mean()), 6)) < 1e-9


def test_tiff_lzw_roundtrip_crosses_width_boundaries():
    """TIFF-variant LZW (MSB-first, EARLY width change): byte-exact
    roundtrip on data long and varied enough to push the dictionary
    through the 9->10->11 bit transitions — the early-change off-by-one
    (TIFF vs GIF's 1<<width point) corrupts exactly these streams."""
    import random

    from energy_datalake_solution_spark.operators.multimodal import (
        _tiff_lzw_compress,
        _tiff_lzw_decompress,
    )

    rng = random.Random(42)
    for n in (1, 2, 257, 1500, 6000):
        data = bytes(rng.randrange(256) for _ in range(n))
        enc = _tiff_lzw_compress(data)
        assert _tiff_lzw_decompress(enc, n) == data, f"n={n}"
    # KwKwK shape: aaa... emits codes that reference the just-added slot
    data = b"a" * 400
    assert _tiff_lzw_decompress(_tiff_lzw_compress(data), 400) == data
    # highly repetitive long stream: deep dictionary chains + width bumps
    data = (b"abcabd" * 700)[:4000]
    assert _tiff_lzw_decompress(_tiff_lzw_compress(data), 4000) == data


def test_tiff_lzw_encoder_reset_at_4094():
    """A stream with >3836 distinct new dictionary entries forces the
    spec's 4094 CLEAR reset; the decoder must follow it mid-stream."""
    from energy_datalake_solution_spark.operators.multimodal import (
        _tiff_lzw_compress,
        _tiff_lzw_decompress,
    )

    # all 256 values cycled with a stride builds new 2-byte entries fast;
    # 40k bytes is comfortably past the reset point
    data = bytes((i * 7 + (i >> 3)) % 256 for i in range(40000))
    enc = _tiff_lzw_compress(data)
    assert _tiff_lzw_decompress(enc, len(data)) == data


def test_tiff_lzw_roundtrip_property():
    """Property: ANY byte string roundtrips through the TIFF LZW pair —
    hypothesis drives dictionary growth, KwKwK, width switches, and the
    trailing-bits flush through shapes a fixed seed would miss."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from energy_datalake_solution_spark.operators.multimodal import (
        _tiff_lzw_compress,
        _tiff_lzw_decompress,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=2048))
    def _roundtrip(data: bytes) -> None:
        assert _tiff_lzw_decompress(
            _tiff_lzw_compress(data), len(data)
        ) == data

    _roundtrip()


def test_gif_and_tiff_lzw_streams_are_not_interchangeable():
    """The two LZW variants differ in bit order AND width-switch timing:
    feeding one's stream to the other's decoder must fail or mis-decode,
    never silently agree — guards against a refactor collapsing the two
    into one wrong implementation."""
    from energy_datalake_solution_spark.operators.multimodal import (
        _lzw_compress,
        _lzw_decompress,
        _tiff_lzw_compress,
        _tiff_lzw_decompress,
    )

    data = bytes((i * 37) % 251 for i in range(600))
    gif_stream = _lzw_compress(data)
    tiff_stream = _tiff_lzw_compress(data)
    assert gif_stream != tiff_stream
    try:
        assert _tiff_lzw_decompress(gif_stream, len(data)) != data
    except ValueError:
        pass  # corrupt-code rejection is the expected outcome
    try:
        assert _lzw_decompress(tiff_stream) != data
    except ValueError:
        pass
