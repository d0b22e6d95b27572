"""Multimodal columns: binary payloads, their synthesizers and decoders.

Every query here has one shape. A synthesizer turns each document into
a payload: a spec-valid file whose content derives arithmetically from
the doc_id, or the document's UTF-8 text. A decoder turns each payload
back into stat rows, and the DuckDB oracle recomputes those rows from
the generating formula, so a decoder slip fails the hash gate. Decoders
are pure ``bytes -> arrays`` functions; both stages run as Spark map
stages through one driver, ``_map_rows``, so payload bytes never reach
a shuffle. The query table at the end wires each query.

=========  =====================  ==========================================
format     decoder                queries (``multimodal_*``)
=========  =====================  ==========================================
raw bytes  (none)                 payload_stats, resize_stats, frame_counts
headers    ``_sniff``             header_sniff
WAV        ``_riff`` + ``_pcm``,  wav_pcm_stats, wav_adpcm_stats,
           ``_adpcm``, ``_g711``  wav_g711_stats
BMP        ``_bmp``               bmp_pixel_stats
PNG        ``_png``               png_pixel_stats, png_adam7_stats
GIF        ``_gif``               gif_pixel_stats
JPEG       ``_jpeg``              gray: jpeg_pixel_stats,
                                  jpeg_progressive_pixel_stats; RGB:
                                  jpeg_color/_420/_422_pixel_stats
TIFF       ``_tiff``              tiff_pixel_stats, tiff_lzw_stats,
                                  tiff_multistrip_stats
MP4/MKV    ``_video``             video_container_stats
=========  =====================  ==========================================

At scale the blobs live in their own column (parquet stores them
contiguously, so metadata-only queries never read them) and every
shuffle or join key is a scalar. Decoders import numpy lazily, so an
import builds the schemas and registers the queries and nothing more.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.registry import register
from ..sources.catalog import load_table


def _schema(ddl: list[tuple[str, T.DataType]]) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in ddl])


_LONG, _INT, _DOUBLE, _STR = T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType()

PAYLOAD_SCHEMA = _schema([("doc_id", _LONG), ("payload", T.BinaryType())])
DECODED_SCHEMA = _schema([
    ("doc_id", _LONG), ("n_bytes", _INT), ("payload_md5", _STR),
    ("feature", T.ArrayType(_DOUBLE)),
])
RESIZED_SCHEMA = _schema([
    ("doc_id", _LONG), ("n_bytes_in", _INT), ("n_bytes_out", _INT),
    ("payload_out", T.BinaryType()),
])
FRAMES_SCHEMA = _schema([
    ("doc_id", _LONG), ("frame_no", _INT), ("frame", T.BinaryType()),
])
SNIFF_SCHEMA = _schema([
    ("doc_id", _LONG), ("detected_format", _STR), ("width", _INT),
    ("height", _INT), ("sample_rate", _INT),
])
WAV_STATS_SCHEMA = _schema([
    ("doc_id", _LONG), ("channel", _INT), ("n_frames", _INT),
    ("sample_rate", _INT), ("mean_amp", _DOUBLE), ("peak_amp", _INT),
    ("rms_amp", _DOUBLE),
])
ADPCM_STATS_SCHEMA = _schema([
    ("doc_id", _LONG), ("n_samples", _INT), ("sample_rate", _INT),
    ("mean_amp", _DOUBLE), ("min_amp", _INT), ("max_amp", _INT),
    ("end_amp", _INT),
])
G711_STATS_SCHEMA = _schema([
    ("doc_id", _LONG), ("law", _STR), ("n_samples", _INT),
    ("mean_amp", _DOUBLE), ("min_amp", _INT), ("max_amp", _INT),
])
# BMP, PNG and GIF: one row per channel
CHANNEL_STATS_SCHEMA = _schema([
    ("doc_id", _LONG), ("channel", _INT), ("width", _INT), ("height", _INT),
    ("mean_val", _DOUBLE), ("min_val", _INT), ("max_val", _INT),
    ("corner_val", _INT),
])
JPEG_STATS_SCHEMA = _schema([
    ("doc_id", _LONG), ("width", _INT), ("height", _INT),
    ("mean_val", _DOUBLE), ("min_val", _INT), ("max_val", _INT),
    ("corner_val", _INT),
])
JPEG_COLOR_STATS_SCHEMA = _schema([
    ("doc_id", _LONG), ("width", _INT), ("height", _INT),
    ("mean_r", _DOUBLE), ("mean_g", _DOUBLE), ("mean_b", _DOUBLE),
    ("corner_r", _INT), ("corner_g", _INT), ("corner_b", _INT),
])
TIFF_STATS_SCHEMA = _schema([
    ("doc_id", _LONG), ("width", _INT), ("height", _INT),
    ("byte_order", _STR), ("compressed", T.BooleanType()),
    ("mean_val", _DOUBLE), ("min_val", _INT), ("max_val", _INT),
    ("corner_val", _INT),
])
VIDEO_CONTAINER_SCHEMA = _schema([
    ("doc_id", _LONG), ("container", _STR), ("codec", _STR),
    ("width", _INT), ("height", _INT), ("duration_ms", _INT),
    ("n_keyframes", _INT),
])


# --------------------------------------------------------------------------
# The Spark driver
# --------------------------------------------------------------------------


def _map_rows(df: DataFrame, cols: tuple[str, ...], rows_of, schema: T.StructType) -> DataFrame:
    """The module's one Spark stage. ``rows_of(*values)`` maps the
    ``cols`` values of one input row to any number of output tuples in
    ``schema`` order; a mapInArrow task builds them into Arrow batches."""

    def batches(it):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        for batch in it:
            args = zip(*(batch.column(c).to_pylist() for c in cols))
            rows = [row for a in args for row in rows_of(*a)]
            columns = list(zip(*rows)) or [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(columns, arrow)],
                schema=arrow,
            )

    return df.select(*cols).mapInArrow(batches, schema)


def _synth(payload_of, *args):
    """A synth stage: each doc_id -> (doc_id, ``payload_of(doc_id, *args)``)."""

    def stage(df: DataFrame) -> DataFrame:
        return _map_rows(
            df, ("doc_id",), lambda i: [(i, payload_of(i, *args))], PAYLOAD_SCHEMA
        )

    stage.__doc__ = payload_of.__doc__
    return stage


def _decoder(rows_of, schema: T.StructType):
    """A decode stage: each (doc_id, payload) -> ``rows_of``'s stat rows."""

    def stage(df: DataFrame) -> DataFrame:
        return _map_rows(df, ("doc_id", "payload"), rows_of, schema)

    stage.__doc__ = rows_of.__doc__
    return stage


# --------------------------------------------------------------------------
# Raw bytes: the plumbing queries
# --------------------------------------------------------------------------


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary column (utf-8 payload stands in for
    image/audio bytes) plus typed metadata, the canonical multimodal row
    shape: (id, payload binary, meta struct<format,n_bytes>)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("format"),
            F.length(payload).alias("n_bytes"),
        ).alias("meta"),
    )


def _text_payloads(documents: DataFrame) -> DataFrame:
    """The UTF-8 bytes of every non-NULL document text (a NULL payload
    has nothing to decode; both engines exclude it)."""
    return with_binary_payload(documents.where(F.col("text").isNotNull()))


def _featurize(doc_id, payload):
    """Byte length, md5 and a deterministic stand-in feature vector (the
    first byte-distribution moments) of each payload."""
    if payload is None:
        return [(doc_id, None, None, None)]
    import hashlib

    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    feature = (
        [float(arr.mean()), float(arr.std()), float(arr.min()), float(arr.max())]
        if arr.size else [0.0] * 4
    )
    return [(doc_id, len(payload), hashlib.md5(payload).hexdigest(), feature)]


decode_and_featurize = _decoder(_featurize, DECODED_SCHEMA)


def resize_payloads(df: DataFrame, target_bytes: int = 256) -> DataFrame:
    """'Resize' stand-in for image thumbnailing: deterministic byte
    truncation (binary in, binary out)."""

    def resize(doc_id, payload):
        if payload is None:
            return [(doc_id, None, None, None)]
        n = len(payload)
        return [(doc_id, n, min(n, target_bytes), payload[:target_bytes])]

    return _map_rows(df, ("doc_id", "payload"), resize, RESIZED_SCHEMA)


def sample_frames(df: DataFrame, frame_size: int = 64, stride: int = 4) -> DataFrame:
    """Frame sampling stand-in for video: every stride-th frame_size chunk
    of the payload becomes its own row (the 1 -> N fan-out of a frame
    extractor); a NULL payload has no frames."""

    def frames(doc_id, payload):
        if payload is None:
            return []
        n_frames = max(1, len(payload) // frame_size)
        return [
            (doc_id, i, payload[i * frame_size : (i + 1) * frame_size])
            for i in range(0, n_frames, stride)
        ]

    return _map_rows(df, ("doc_id", "payload"), frames, FRAMES_SCHEMA)


# --------------------------------------------------------------------------
# Container headers: magic-byte sniffing, no pixel or sample access
# --------------------------------------------------------------------------


def _container_payload(i: int) -> bytes:
    """Valid container headers only: doc_id % 4 selects PNG / JPEG / GIF
    / WAV; dimensions and sample rate derive from doc_id."""
    import struct

    w, h = 16 + i % 101, 16 + i % 53
    sr = 8000 + (i % 5) * 8000
    kind = i % 4
    if kind == 0:  # PNG: signature + IHDR chunk
        return (
            _PNG_SIG + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        )
    if kind == 1:  # JPEG: SOI + SOF0 (precision, height, width)
        return (
            b"\xff\xd8\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", h, w)
        )
    if kind == 2:  # GIF89a: logical screen w/h little-endian
        return b"GIF89a" + struct.pack("<HH", w, h)
    return (  # WAV: RIFF/WAVE fmt chunk with sample rate
        b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
        + struct.pack("<IHH", 16, 1, 1) + struct.pack("<I", sr)
    )


def _sniff(doc_id, payload):
    """Format from magic bytes, then width/height or sample rate from the
    raw header: PNG IHDR (big-endian), a JPEG SOF0/SOF2 marker scan, the
    GIF logical screen descriptor (little-endian), the WAV fmt chunk."""
    import struct

    buf = payload
    fmt, w, h, sr = "unknown", None, None, None
    if buf[:8] == _PNG_SIG and buf[12:16] == b"IHDR":
        fmt, (w, h) = "png", struct.unpack(">II", buf[16:24])
    elif buf[:2] == b"\xff\xd8":
        fmt, j = "jpeg", 2
        while j + 9 <= len(buf):
            if buf[j] == 0xFF and buf[j + 1] in (0xC0, 0xC2):
                h, w = struct.unpack(">HH", buf[j + 5 : j + 9])
                break
            j += 2 + (struct.unpack(">H", buf[j + 2 : j + 4])[0] if buf[j] == 0xFF else 0)
    elif buf[:6] in (b"GIF87a", b"GIF89a"):
        fmt, (w, h) = "gif", struct.unpack("<HH", buf[6:10])
    elif buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        fmt, (sr,) = "wav", struct.unpack("<I", buf[24:28])
    return [(doc_id, fmt, w, h, sr)]


synth_container_payload = _synth(_container_payload)
sniff_container_headers = _decoder(_sniff, SNIFF_SCHEMA)


# --------------------------------------------------------------------------
# WAV: one RIFF walk, three sample codecs (PCM, IMA ADPCM, G.711)
# --------------------------------------------------------------------------


def _riff_wave(fmt: bytes, data: bytes) -> bytes:
    import struct

    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def _riff(buf: bytes) -> tuple[tuple, bytes, bytes]:
    """RIFF/WAVE chunk walk (word-aligned chunks, unknown ones skipped)
    -> (the fmt chunk's first six fields, the whole fmt chunk, data)."""
    import struct

    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid, (size,) = buf[pos : pos + 4], struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return struct.unpack("<HHIIHH", fmt[:16]), fmt, data


def _pcm_payload(i: int) -> bytes:
    """Complete 16-bit PCM WAV files: channels 1 + doc_id % 2, frames
    50 + doc_id % 17, rate 8000 + (doc_id % 5)*8000 and interleaved
    samples amp(k, c) = ((doc_id*7919 + k*31 + c*17) % 2003) - 1001."""
    import struct

    import numpy as np

    n_ch, n_frames, sr = 1 + i % 2, 50 + i % 17, 8000 + (i % 5) * 8000
    k = np.arange(n_frames, dtype=np.int64)[:, None]
    c = np.arange(n_ch, dtype=np.int64)[None, :]
    amps = ((i * 7919 + k * 31 + c * 17) % 2003) - 1001
    block_align = n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, sr, sr * block_align, block_align, 16)
    return _riff_wave(fmt, amps.astype("<i2").tobytes())


def _pcm(buf: bytes):
    """16-bit PCM WAV -> ((frames, channels) int16 samples, sample rate)."""
    import numpy as np

    (tag, n_ch, sr, _, _, bits), _, data = _riff(buf)
    if tag != 1 or bits != 16:
        raise ValueError(f"unsupported encoding: fmt={tag} bits={bits}")
    return np.frombuffer(data, dtype="<i2").reshape(-1, n_ch), sr


def _pcm_stats(doc_id, payload):
    """Per-channel mean, peak |amp| and RMS of a PCM WAV's samples."""
    import numpy as np

    samples, sr = _pcm(payload)
    n = samples.shape[0]
    rows = []
    for ch in range(samples.shape[1]):
        col = samples[:, ch].astype(np.float64)
        rows.append((
            doc_id, ch, n, sr, round(float(col.sum() / n), 6),
            int(np.abs(col).max()), round(float(np.sqrt((col * col).sum() / n)), 6),
        ))
    return rows


synth_wav_pcm_payload = _synth(_pcm_payload)
decode_wav_pcm_stats = _decoder(_pcm_stats, WAV_STATS_SCHEMA)

# IMA/DVI ADPCM (IMA Digital Audio Interchange Format, 1992; the tables
# RFC 3551 carries)
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_payload(i: int) -> bytes:
    """Complete IMA ADPCM WAV files (tag 0x11, mono, one block): seed
    predictor p0 = ((doc_id*7919) % 2003) - 1001 and step index
    idx0 = doc_id % 89 in the block header, then 64 + 8*(doc_id % 3)
    nibbles nibble(k) = (doc_id*13 + k*7) % 16, rate
    8000 + (doc_id % 4)*4000 — the oracle replays the decode in SQL."""
    import struct

    n_nib = 64 + 8 * (i % 3)
    p0, idx0, sr = ((i * 7919) % 2003) - 1001, i % 89, 8000 + (i % 4) * 4000
    nibs = [(i * 13 + k * 7) % 16 for k in range(n_nib)]
    body = bytearray(struct.pack("<hBB", p0, idx0, 0))
    for j in range(0, n_nib, 2):
        body.append(nibs[j] | (nibs[j + 1] << 4))
    block_align = len(body)
    spb = 1 + n_nib  # header sample + one per nibble
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sr, (sr * block_align) // spb, block_align, 4, 2, spb,
    )
    return _riff_wave(fmt, bytes(body))


def _adpcm(buf: bytes):
    """IMA ADPCM WAV (mono or stereo) -> (int64 samples, channel after
    channel, sample rate). Each blockAlign block opens with one 4-byte
    header per channel whose predictor is that channel's next sample and
    re-seeds its state; stereo data then interleaves 4-byte chunks per
    channel. Nibbles run low first through the spec state machine:
    step lookup, magnitude from three bits, sign bit, predictor clamp to
    int16, index clamp to [0, 88]."""
    import struct

    import numpy as np

    (tag, n_ch, sr, _, block_align, bits), _, data = _riff(buf)
    if tag != 0x11 or bits != 4 or n_ch not in (1, 2):
        raise ValueError(f"unsupported encoding: fmt={tag:#x} bits={bits} ch={n_ch}")
    chans: list[list[int]] = [[] for _ in range(n_ch)]
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]
        state = [list(struct.unpack("<hBB", block[4 * c : 4 * c + 4])[:2]) for c in range(n_ch)]
        for c in range(n_ch):
            chans[c].append(state[c][0])
        body = block[4 * n_ch :]
        for j0 in range(0, len(body), 4 * n_ch):
            for c in range(n_ch):
                for byte in body[j0 + 4 * c : j0 + 4 * (c + 1)]:
                    for delta in (byte & 0x0F, byte >> 4):
                        pred, idx = state[c]
                        step = _IMA_STEPS[idx]
                        diff = step >> 3
                        if delta & 1:
                            diff += step >> 2
                        if delta & 2:
                            diff += step >> 1
                        if delta & 4:
                            diff += step
                        pred = max(-32768, min(32767, pred - diff if delta & 8 else pred + diff))
                        state[c] = [pred, max(0, min(88, idx + _IMA_INDEX[delta & 7]))]
                        chans[c].append(pred)
    return np.asarray([s for ch in chans for s in ch], dtype=np.int64), sr


def _adpcm_stats(doc_id, payload):
    """Sample count, mean, min, max and last sample of an ADPCM WAV."""
    samples, sr = _adpcm(payload)
    n = samples.shape[0]
    return [(
        doc_id, n, sr, round(float(samples.sum() / n), 6), int(samples.min()),
        int(samples.max()), int(samples[-1]),
    )]


synth_wav_adpcm_payload = _synth(_adpcm_payload)
decode_wav_adpcm_stats = _decoder(_adpcm_stats, ADPCM_STATS_SCHEMA)


def _mulaw_expand(u: int) -> int:
    """ITU G.711 mu-law byte -> linear PCM (the 0x84-bias segment form)."""
    u = ~u & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return -mag if sign else mag


def _alaw_expand(a: int) -> int:
    """ITU G.711 A-law byte -> linear PCM (even-bit inversion form)."""
    a ^= 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    if exp == 0:
        mag = (mant << 4) + 8
    else:
        mag = ((mant << 4) + 0x108) << (exp - 1)
    return -mag if sign else mag


def _g711_payload(i: int) -> bytes:
    """G.711 WAV files: odd doc_ids mu-law (tag 7), even A-law (tag 6),
    mono 8 kHz, byte(k) = (doc_id*19 + k*11) % 256 for
    120 + doc_id % 9 samples."""
    import struct

    tag, n = (7 if i % 2 else 6), 120 + i % 9
    data = bytes(((i * 19 + k * 11) % 256) for k in range(n))
    return _riff_wave(struct.pack("<HHIIHH", tag, 1, 8000, 8000, 1, 8), data)


def _g711(buf: bytes):
    """G.711 WAV (tag 6 A-law, 7 mu-law) -> (int64 samples, law)."""
    import numpy as np

    (tag, n_ch, _, _, _, bits), _, data = _riff(buf)
    if tag not in (6, 7) or bits != 8 or n_ch != 1:
        raise ValueError(f"unsupported encoding: fmt={tag} bits={bits} ch={n_ch}")
    expand = _mulaw_expand if tag == 7 else _alaw_expand
    return np.asarray([expand(b) for b in data], dtype=np.int64), (
        "mulaw" if tag == 7 else "alaw"
    )


def _g711_stats(doc_id, payload):
    """Law, sample count, mean, min and max of a G.711 WAV."""
    samples, law = _g711(payload)
    n = samples.shape[0]
    return [(
        doc_id, law, n, round(float(samples.sum() / n), 6), int(samples.min()),
        int(samples.max()),
    )]


synth_wav_g711_payload = _synth(_g711_payload)
decode_wav_g711_stats = _decoder(_g711_stats, G711_STATS_SCHEMA)


# --------------------------------------------------------------------------
# Raster images: BMP, PNG and GIF share one per-channel stats reader
# --------------------------------------------------------------------------


def _channel_stats(decode):
    """The stats reader of a decoder returning an (h, w, 3) cube: per
    channel the mean, min, max and the top-left corner value (position
    sensitive, so a row-order or offset slip shows even when the means
    agree)."""

    def rows(doc_id, payload):
        cube = decode(payload)
        h, w = cube.shape[:2]
        return [
            (
                doc_id, ch, w, h, round(float(cube[:, :, ch].sum()) / (w * h), 6),
                int(cube[:, :, ch].min()), int(cube[:, :, ch].max()),
                int(cube[0, 0, ch]),
            )
            for ch in range(3)
        ]

    rows.__doc__ = decode.__doc__
    return rows


def _bmp_payload(i: int) -> bytes:
    """Complete 24-bit BMP files, px(x, y, c) = (doc_id*131 + y*37 +
    x*11 + c*7) % 256 with y from the image top and c in (B, G, R);
    rows stored bottom-up and zero-padded to 4 bytes (width 3..6
    exercises pads 3/0/1/2)."""
    import struct

    import numpy as np

    w, h = 3 + i % 4, 2 + i % 3
    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    px = ((i * 131 + y * 37 + x * 11 + c * 7) % 256).astype(np.uint8)
    stride = (3 * w + 3) // 4 * 4
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : 3 * w] = px[::-1].reshape(h, 3 * w)  # image row y at h-1-y
    data = raster.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40) + info + data


def _bmp(buf: bytes):
    """24-bit uncompressed BMP -> (h, w, 3) uint8 cube in stored channel
    order (B, G, R), rows top-down: padded rows sliced, a bottom-up
    (positive height) raster flipped."""
    import struct

    import numpy as np

    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", buf, 10)[0]
    hdr_size, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", buf, 14)
    if hdr_size != 40 or planes != 1 or bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP variant: {hdr_size}/{planes}/{bpp}/{comp}")
    stride = (3 * w + 3) // 4 * 4
    raster = np.frombuffer(buf, dtype=np.uint8, count=abs(h) * stride, offset=offset)
    cube = raster.reshape(abs(h), stride)[:, : 3 * w].reshape(abs(h), w, 3)
    return cube[::-1] if h > 0 else cube


synth_bmp_payload = _synth(_bmp_payload)
decode_bmp_pixel_stats = _decoder(_channel_stats(_bmp), CHANNEL_STATS_SCHEMA)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body)) + ctype + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_filter_row(raw, prior, ftype: int, bpp: int):
    """PNG spec §6 encoder side: one scanline filtered against the prior
    row, bytes mod 256."""
    import numpy as np

    left = np.concatenate([np.zeros(bpp, dtype=np.int64), raw[:-bpp]])
    ul = np.concatenate([np.zeros(bpp, dtype=np.int64), prior[:-bpp]])
    if ftype == 0:
        return raw
    if ftype == 1:  # Sub
        return (raw - left) % 256
    if ftype == 2:  # Up
        return (raw - prior) % 256
    if ftype == 3:  # Average
        return (raw - (left + prior) // 2) % 256
    pred = np.array(
        [_paeth(int(a), int(b), int(cc)) for a, b, cc in zip(left, prior, ul)],
        dtype=np.int64,
    )
    return (raw - pred) % 256


def _png_file(ihdr: bytes, scanlines: bytes) -> bytes:
    import zlib

    return (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines)) + _png_chunk(b"IEND", b"")
    )


def _png_payload(i: int) -> bytes:
    """Complete 8-bit RGB PNGs, px(x, y, c) = (doc_id*149 + y*41 + x*13 +
    c*5) % 256, each scanline filtered with type (doc_id + y) % 5 so
    every filter appears across the corpus."""
    import struct

    import numpy as np

    w, h = 3 + i % 5, 2 + i % 4
    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    raster = ((i * 149 + y * 41 + x * 13 + c * 5) % 256).astype(np.int64).reshape(h, w * 3)
    out = bytearray()
    prior = np.zeros(w * 3, dtype=np.int64)
    for yy in range(h):
        ftype = (i + yy) % 5
        out.append(ftype)
        out.extend(_png_filter_row(raster[yy], prior, ftype, 3).astype(np.uint8).tobytes())
        prior = raster[yy]
    return _png_file(struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0), bytes(out))


def _png_adam7_payload(i: int) -> bytes:
    """Complete 16-bit RGB Adam7-interlaced PNGs, sample(x, y, c) =
    (doc_id*40503 + y*1031 + x*527 + c*257) % 65536 big-endian; 8..12 x
    8..11 pixels make all seven passes non-empty, and each pass filters
    its own rows (type (doc_id + pass + row) % 5, 6-byte pixels)."""
    import struct

    import numpy as np

    w, h = 8 + i % 5, 8 + i % 4
    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(3, dtype=np.int64)[None, None, :]
    px = (i * 40503 + y * 1031 + x * 527 + c * 257) % 65536
    out = bytearray()
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7, start=1):
        sub = px[y0::dy, x0::dx, :]
        hp, wp = sub.shape[0], sub.shape[1]
        if hp == 0 or wp == 0:
            continue
        raster = np.stack([sub // 256, sub % 256], axis=-1).reshape(hp, wp * 6)
        prior = np.zeros(wp * 6, dtype=np.int64)
        for j in range(hp):
            ftype = (i + p + j) % 5
            out.append(ftype)
            out.extend(_png_filter_row(raster[j], prior, ftype, 6).astype(np.uint8).tobytes())
            prior = raster[j]
    return _png_file(struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 1), bytes(out))


def _png(buf: bytes):
    """RGB PNG -> (h, w, 3) int64 sample cube. Chunk walk verifying every
    CRC, one inflate of the IDAT stream, then each Adam7 pass in order —
    a non-interlaced image is the one pass (0, 0, 1, 1) — unfiltered row
    by row (Up/Average/Paeth read the reconstructed prior row of the same
    pass; pixels are 3 or 6 bytes by bit depth) and scattered onto its
    grid. Accepts the two layouts the corpora and oracles cover, 8-bit
    sequential and 16-bit Adam7; any other refuses."""
    import struct
    import zlib

    import numpy as np

    if buf[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, b""
    while pos + 12 <= len(buf):
        (size,) = struct.unpack_from(">I", buf, pos)
        ctype, body = buf[pos + 4 : pos + 8], buf[pos + 8 : pos + 8 + size]
        (crc,) = struct.unpack(">I", buf[pos + 8 + size : pos + 12 + size])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    if color != 2 or comp or filt or (depth, interlace) not in ((8, 0), (16, 1)):
        raise ValueError(
            f"unsupported PNG variant: depth={depth} color={color} interlace={interlace}"
        )
    nbytes = depth // 8
    bpp = 3 * nbytes
    grids = [
        (x0, y0, dx, dy, -(-(w - x0) // dx), -(-(h - y0) // dy))
        for x0, y0, dx, dy in (_ADAM7 if interlace else ((0, 0, 1, 1),))
    ]
    grids = [g for g in grids if g[4] > 0 and g[5] > 0]  # empty passes hold no bytes
    raw = zlib.decompress(idat)
    if len(raw) != sum(hp * (1 + wp * bpp) for *_, wp, hp in grids):
        raise ValueError("IDAT size does not match dimensions")
    cube = np.zeros((h, w, 3), dtype=np.int64)
    pos = 0
    for x0, y0, dx, dy, wp, hp in grids:
        stride = wp * bpp
        rows = np.zeros((hp, stride), dtype=np.int64)
        prior = rows[0]  # zeros: the row above a pass's first row
        for j in range(hp):
            ftype = raw[pos]
            recon = np.frombuffer(raw, np.uint8, stride, pos + 1).astype(np.int64)
            pos += 1 + stride
            if ftype == 1:  # Sub: sequential, left is reconstructed
                for k in range(bpp, stride):
                    recon[k] = (recon[k] + recon[k - bpp]) % 256
            elif ftype == 2:  # Up
                recon = (recon + prior) % 256
            elif ftype == 3:  # Average
                for k in range(stride):
                    left = recon[k - bpp] if k >= bpp else 0
                    recon[k] = (recon[k] + (left + prior[k]) // 2) % 256
            elif ftype == 4:  # Paeth
                for k in range(stride):
                    left = recon[k - bpp] if k >= bpp else 0
                    ul = prior[k - bpp] if k >= bpp else 0
                    recon[k] = (recon[k] + _paeth(int(left), int(prior[k]), int(ul))) % 256
            elif ftype:
                raise ValueError(f"bad PNG filter type {ftype}")
            rows[j] = recon
            prior = recon
        samples = rows.reshape(hp, wp, 3, nbytes)
        vals = samples[..., 0]
        for b in range(1, nbytes):  # big-endian multi-byte samples
            vals = vals * 256 + samples[..., b]
        cube[y0::dy, x0::dx, :] = vals
    return cube


synth_png_payload = _synth(_png_payload)
synth_png_adam7_payload = _synth(_png_adam7_payload)
decode_png_pixel_stats = _decoder(_channel_stats(_png), CHANNEL_STATS_SCHEMA)

# GIF: LSB-first variable-width LZW codes (9 -> 12 bits for an 8-bit
# palette), CLEAR/EOI control codes and the KwKwK case, both directions
_GIF_MIN_CODE_SIZE = 8  # 256-color palette


def _lzw_compress(indices: bytes, min_code_size: int = _GIF_MIN_CODE_SIZE) -> bytes:
    """GIF-variant LZW: greedy longest-match against a growing dictionary,
    codes packed LSB-first at the current width; width bumps when the
    just-assigned code reaches 1 << width (the standard decoder's
    len == 1 << width transition, verified by the roundtrip + oracle
    gates); dictionary capped at 4096 with a CLEAR reset."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = eoi + 1, min_code_size + 1
    emit(clear, width)
    w = b""
    for byte in indices:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wk] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # table full: reset (unreachable for the tiny test rasters)
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code, width = eoi + 1, min_code_size + 1
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decompress(data: bytes, min_code_size: int = _GIF_MIN_CODE_SIZE) -> bytes:
    """Inverse of _lzw_compress, mirroring a standard GIF decoder: reset
    on CLEAR, stop at EOI, append prev+cur[0] per code, KwKwK when the
    code IS the next dictionary slot, width++ when the dictionary reaches
    1 << width (capped at 12 bits / 4096 entries)."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]  # clear/eoi slots
    table = list(base)
    width = min_code_size + 1
    acc = nbits = pos = 0
    prev: bytes | None = None
    out = bytearray()
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream ended without EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"corrupt LZW code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def _gif_payload(i: int) -> bytes:
    """Complete GIF89a files: a 256-entry palette (index p, channel c ->
    (p*5 + c*11 + doc_id) % 256), a Graphic Control Extension to skip,
    and pixel indices idx(x, y) = (doc_id*157 + y*43 + x*17) % 256
    LZW-compressed into <=255-byte sub-blocks."""
    import struct

    import numpy as np

    w, h = 4 + i % 5, 3 + i % 4
    y = np.arange(h, dtype=np.int64)[:, None]
    x = np.arange(w, dtype=np.int64)[None, :]
    idx = ((i * 157 + y * 43 + x * 17) % 256).astype(np.uint8)
    pal = bytes((p * 5 + c * 11 + i) % 256 for p in range(256) for c in range(3))
    lzw = _lzw_compress(idx.tobytes())
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)  # block terminator
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 entries
        + pal
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE (skippable)
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        + bytes([_GIF_MIN_CODE_SIZE])
        + bytes(blocks)
        + b"\x3b"
    )


def _gif(buf: bytes):
    """GIF -> (h, w, 3) RGB cube: global color table, extension blocks
    skipped by their sub-block lengths, one image (no local table, no
    interlace) whose LZW index stream maps through the palette."""
    import struct

    import numpy as np

    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    pos = 13
    if not packed & 0x80:
        raise ValueError("missing global color table")
    gct_n = 2 << (packed & 0x07)
    pal = np.frombuffer(buf, dtype=np.uint8, count=3 * gct_n, offset=pos).reshape(gct_n, 3)
    pos += 3 * gct_n
    while True:
        marker = buf[pos]
        pos += 1
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 1
            while buf[pos]:
                pos += 1 + buf[pos]
            pos += 1
        elif marker == 0x2C:
            break
        elif marker == 0x3B:
            raise ValueError("trailer before image data")
        else:
            raise ValueError(f"unknown GIF block 0x{marker:02x}")
    _left, _top, w, h, ipacked = struct.unpack_from("<HHHHB", buf, pos)
    pos += 9
    if ipacked & 0xC0:
        raise ValueError("local color table / interlace unsupported")
    min_code = buf[pos]
    pos += 1
    data = bytearray()
    while buf[pos]:
        n = buf[pos]
        data.extend(buf[pos + 1 : pos + 1 + n])
        pos += 1 + n
    indices = np.frombuffer(_lzw_decompress(bytes(data), min_code), dtype=np.uint8)
    if len(indices) != w * h:
        raise ValueError("decoded index count does not match dimensions")
    return pal[indices.reshape(h, w)]


synth_gif_payload = _synth(_gif_payload)
decode_gif_pixel_stats = _decoder(_channel_stats(_gif), CHANNEL_STATS_SCHEMA)


# --------------------------------------------------------------------------
# JPEG (ITU-T T.81): five encoders, one decoder
# --------------------------------------------------------------------------
#
# The fixtures use unit quantization and 8x8 blocks that are each one
# constant value: the DCT of a constant block is its DC coefficient
# alone, so the lossy round trip is bit-exact and a generating-formula
# oracle can hash-gate the decoder. The decoder itself never assumes
# that: every block runs the AC path, and hand-built streams in the
# tests carry real AC, restart and refinement data.

# T.81 Annex K.3.1 / K.3.2: example luminance Huffman tables (BITS, HUFFVAL)
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# T.81 Tables K.4 / K.6: example CHROMINANCE Huffman tables (BITS, HUFFVAL)
_JPEG_DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_C_VALS = list(range(12))
_JPEG_AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_JPEG_AC_C_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# progressive AC table: the Annex K baseline table has no EOBn symbols
# (baseline never emits them). Five canonical codes at length 3: EOB0..EOB4.
_JPEG_PROG_AC_BITS = [0, 0, 5, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_JPEG_PROG_AC_VALS = [0x00, 0x10, 0x20, 0x30, 0x40]

# T.81 Figure A.6 zigzag: index i of the scan order -> (row, col)
_JPEG_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# libjpeg's fixed-point YCbCr -> RGB constants (jdcolor.c), value * 65536:
# integer arithmetic the SQL oracle replicates with FLOOR(x / 65536)
_FIX_R_CR = 91881     # 1.40200
_FIX_B_CB = 116130    # 1.77200
_FIX_G_CB = -22554    # -0.34414
_FIX_G_CR = -46802    # -0.71414


def _jpeg_huff_codes(bits, vals):
    """Canonical Huffman assignment (T.81 Annex C): symbol -> (code, length)."""
    out, code = {}, 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _jpeg_dht(tc_th: int, bits, vals) -> bytes:
    import struct

    body = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _jpeg_put_block(wtr: _JpegBitWriter, v: int, prev_dc: int, dc_codes, ac_codes) -> int:
    """Entropy-code one constant block of value ``v`` (DC difference
    category + magnitude bits, then EOB); returns its DC for prediction."""
    dc = 8 * (v - 128)
    diff = dc - prev_dc
    cat = abs(diff).bit_length()
    wtr.put(*dc_codes[cat])
    if cat:
        wtr.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    wtr.put(*ac_codes[0x00])  # EOB: all 63 ACs zero
    return dc


def _jpeg_head(sof: bytes, w: int, h: int, comps: bytes, color: bool) -> bytearray:
    """SOI, one unit quantization table, the frame header and the Annex K
    tables (luminance, plus chrominance for a color frame)."""
    import struct

    head = bytearray(b"\xff\xd8")
    head += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    head += sof + struct.pack(">H", 7 + len(comps)) + bytes([8]) + struct.pack(">HH", h, w)
    head += comps
    head += _jpeg_dht(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS)
    if sof == b"\xff\xc0":
        head += _jpeg_dht(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS)
    if color:
        head += _jpeg_dht(0x01, _JPEG_DC_C_BITS, _JPEG_DC_C_VALS)
        head += _jpeg_dht(0x11, _JPEG_AC_C_BITS, _JPEG_AC_C_VALS)
    return head


def _jpeg_payload(i: int) -> bytes:
    """Baseline grayscale JPEGs (SOF0), w = 8*(1 + doc_id % 3), h =
    8*(1 + doc_id % 2), block (bx, by) constant at
    (doc_id*37 + bx*59 + by*83) % 256."""
    import struct

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw, bh = 1 + i % 3, 1 + i % 2
    head = _jpeg_head(b"\xff\xc0", 8 * bw, 8 * bh, bytes([1, 1, 0x11, 0]), False)
    head += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    wtr = _JpegBitWriter()
    prev_dc = 0
    for by in range(bh):  # MCU raster order
        for bx in range(bw):
            v = (i * 37 + bx * 59 + by * 83) % 256
            prev_dc = _jpeg_put_block(wtr, v, prev_dc, dc_codes, ac_codes)
    return bytes(head) + wtr.flush() + b"\xff\xd9"


def _jpeg_color_payload(i: int, hy: int, vy: int, ri: int) -> bytes:
    """Color baseline JPEGs, Y sampled hy x vy against 1x1 chroma: 4:4:4
    (1, 1) in 8*(1 + doc_id % 3) x 8*(1 + doc_id % 2) pixels; 4:2:0
    (2, 2) and 4:2:2 (2, 1) in (1 + doc_id % 2) x (1 + doc_id % 3) MCUs.
    Y block (bx, by) = (doc_id*37 + bx*59 + by*83) % 256; Cb and Cr of
    MCU (mx, my) = (doc_id*41 + mx*67 + my*89) % 256 and (doc_id*43 +
    mx*71 + my*97) % 256; a restart interval of ``ri`` MCUs when
    nonzero (the 4:2:0 corpus uses 2)."""
    import struct

    mw, mh = (1 + i % 3, 1 + i % 2) if hy == 1 else (1 + i % 2, 1 + i % 3)
    dc_y = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_y = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    dc_c = _jpeg_huff_codes(_JPEG_DC_C_BITS, _JPEG_DC_C_VALS)
    ac_c = _jpeg_huff_codes(_JPEG_AC_C_BITS, _JPEG_AC_C_VALS)
    comps = bytes([3, 1, hy << 4 | vy, 0, 2, 0x11, 0, 3, 0x11, 0])
    head = _jpeg_head(b"\xff\xc0", 8 * hy * mw, 8 * vy * mh, comps, True)
    if ri:
        head += b"\xff\xdd" + struct.pack(">HH", 4, ri)
    head += b"\xff\xda" + struct.pack(">H", 12) + bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    entropy = bytearray()
    wtr = _JpegBitWriter()
    prev = [0, 0, 0]  # per-component DC predictors
    n_rst = 0
    for my in range(mh):
        for mx in range(mw):
            mcu_i = my * mw + mx
            if ri and mcu_i and mcu_i % ri == 0:
                # byte-align the segment, emit RSTm, reset DC
                entropy += wtr.flush() + bytes([0xFF, 0xD0 + (n_rst % 8)])
                n_rst += 1
                wtr = _JpegBitWriter()
                prev = [0, 0, 0]
            for dy in range(vy):
                for dx in range(hy):
                    bx, by = hy * mx + dx, vy * my + dy
                    v = (i * 37 + bx * 59 + by * 83) % 256
                    prev[0] = _jpeg_put_block(wtr, v, prev[0], dc_y, ac_y)
            prev[1] = _jpeg_put_block(wtr, (i * 41 + mx * 67 + my * 89) % 256, prev[1], dc_c, ac_c)
            prev[2] = _jpeg_put_block(wtr, (i * 43 + mx * 71 + my * 97) % 256, prev[2], dc_c, ac_c)
    return bytes(head) + bytes(entropy + wtr.flush()) + b"\xff\xd9"


def _jpeg_progressive_payload(i: int) -> bytes:
    """Progressive grayscale JPEGs (SOF2) over the baseline fixture's
    blocks in three scans: DC first at Al=1, DC refinement (one raw bit
    per block), and an AC first scan whose all-zero band is one EOB run
    over every block, its AC table defined between scans."""
    import struct

    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)

    def sos(comp_tables: bytes, ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([1]) + comp_tables + bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    bw, bh = 1 + i % 3, 1 + i % 2
    head = _jpeg_head(b"\xff\xc2", 8 * bw, 8 * bh, bytes([1, 1, 0x11, 0]), False)
    dcs = [
        8 * (((i * 37 + bx * 59 + by * 83) % 256) - 128)
        for by in range(bh) for bx in range(bw)
    ]
    # scan 1: DC first, Al=1 — Huffman-coded diffs of (dc >> 1)
    body = bytearray(sos(bytes([1, 0x00]), 0, 0, 0, 1))
    wtr = _JpegBitWriter()
    prev = 0
    for dc in dcs:
        v = dc >> 1  # arithmetic shift (T.81 point transform)
        diff = v - prev
        prev = v
        cat = abs(diff).bit_length()
        wtr.put(*dc_codes[cat])
        if cat:
            wtr.put(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    body += wtr.flush()
    # scan 2: DC refinement Ah=1, Al=0 — one raw bit per block
    body += sos(bytes([1, 0x00]), 0, 0, 1, 0)
    wtr = _JpegBitWriter()
    for dc in dcs:
        wtr.put(dc & 1, 1)
    body += wtr.flush()
    # scan 3: AC first over 1..63, all zero: ONE EOB run covering every
    # block, EOBn symbol (r << 4) with r = floor(log2(n)), then r raw
    # bits of n - 2^r
    body += _jpeg_dht(0x11, _JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)
    body += sos(bytes([1, 0x01]), 1, 63, 0, 0)
    wtr = _JpegBitWriter()
    n = len(dcs)
    r = n.bit_length() - 1
    wtr.put(*ac_codes[r << 4])
    if r:
        wtr.put(n - (1 << r), r)
    body += wtr.flush()
    return bytes(head) + bytes(body) + b"\xff\xd9"


class _JpegBitReader:
    """MSB-first reader over one scan's entropy bytes (T.81 F.2.2): drops
    the 0x00 stuffed after a data 0xFF and consumes RSTm markers."""

    def __init__(self, data: bytes):
        self.data, self.pos, self.acc, self.nbits = data, 0, 0, 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker in entropy data")
                self.pos += 1  # skip stuffed 0x00
            self.acc, self.nbits = b, 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def receive(self, t: int) -> int:
        """T.81 F.2.2.1: ``t`` magnitude bits as a signed value."""
        if not t:
            return 0
        v = self.bits(t)
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    def huff(self, table: dict | None) -> int:
        """One canonical-Huffman symbol; ``table`` maps (length, code)."""
        if table is None:
            raise ValueError("scan uses an undefined Huffman table")
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def restart(self, m: int) -> None:
        """Consume the RSTm marker ending a restart interval: drop the pad
        bits to the byte boundary, require the expected modulo-8 index
        (T.81 F.2.1.3.1: a wrong one means a lost or reordered segment)."""
        self.nbits = 0
        if self.pos + 1 >= len(self.data):
            raise ValueError("truncated at restart marker")
        b0, b1 = self.data[self.pos], self.data[self.pos + 1]
        if b0 != 0xFF or b1 != 0xD0 + (m % 8):
            raise ValueError(f"expected RST{m % 8} at restart interval, got {b0:02x}{b1:02x}")
        self.pos += 2


def _jpeg_scan(frame: dict, sos: bytes, data: bytes, ri: int, tables: dict) -> None:
    """Entropy-decode one scan into the frame's per-component coefficient
    arrays (quantized, zigzag order). A baseline scan codes DC and AC of
    each block together; a progressive one is a DC first or refinement
    scan (Ss = 0) or an AC first or refinement scan with EOB runs over a
    band Ss..Se of one component (T.81 G.1.2). Units are MCUs in an
    interleaved scan and blocks in a single-component one; every ``ri``
    units a restart marker resets the DC predictors and the EOB run."""
    ns = sos[0]
    by_id = {c["id"]: c for c in frame["comps"]}
    if any(sos[1 + 2 * k] not in by_id for k in range(ns)):
        raise ValueError("scan names a component the frame lacks")
    scan = [by_id[sos[1 + 2 * k]] for k in range(ns)]
    dct = [tables[0].get(sos[2 + 2 * k] >> 4) for k in range(ns)]
    act = [tables[1].get(sos[2 + 2 * k] & 0x0F) for k in range(ns)]
    ss, se, ah, al = sos[1 + 2 * ns], sos[2 + 2 * ns], sos[3 + 2 * ns] >> 4, sos[3 + 2 * ns] & 0x0F
    progressive = frame["progressive"]
    if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
        raise ValueError("baseline scans cover Ss=0..Se=63 with Ah=Al=0")
    if progressive and ss == 0 and se != 0:
        raise ValueError(f"progressive DC scan must have Se=0, not {se}")
    if progressive and ss and ns != 1:
        raise ValueError("progressive AC scans cover one component")
    if ss > se or se > 63:
        raise ValueError(f"bad spectral selection {ss}..{se}")
    rd = _JpegBitReader(data)
    pred = [0] * ns
    eobrun = 0
    p1, m1 = 1 << al, -1 << al

    def dc(blk, k):
        if ah:  # refinement: one raw bit
            if rd.bit():
                blk[0] |= p1
            return
        pred[k] += rd.receive(rd.huff(dct[k]))
        blk[0] = pred[k] << al

    def ac_first(blk, k):
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        z = max(ss, 1)
        while z <= se:
            r, s = divmod(rd.huff(act[k]), 16)
            if s == 0:
                if r == 15:  # ZRL: 16 zeros
                    z += 16
                    continue
                if r and not progressive:
                    raise ValueError("invalid AC symbol")
                eobrun = (1 << r) - 1 + rd.bits(r)  # EOB0 = this block only
                return
            z += r
            if z > se:
                raise ValueError("AC coefficient overrun")
            blk[z] = rd.receive(s) << al
            z += 1

    def ac_refine(blk, k):  # T.81 G.1.2.3
        nonlocal eobrun
        z = ss
        if not eobrun:
            while z <= se:
                r, s = divmod(rd.huff(act[k]), 16)
                new = 0
                if s == 0:
                    if r < 15:
                        # the run counts this block too: its band tail
                        # still takes corrections below
                        eobrun = (1 << r) + rd.bits(r)
                        break
                    # r == 15: pass 16 zero-history coefficients
                elif s != 1:
                    raise ValueError("refinement size must be 1")
                else:
                    new = p1 if rd.bit() else m1
                # skip r zero-history coefficients, correcting nonzero
                # ones on the way
                while z <= se:
                    if blk[z]:
                        if rd.bit():
                            blk[z] += p1 if blk[z] > 0 else m1
                    elif r == 0:
                        break
                    else:
                        r -= 1
                    z += 1
                if new and z <= se:
                    blk[z] = new
                z += 1
        if eobrun:
            while z <= se:  # the band tail's nonzero history
                if blk[z] and rd.bit():
                    blk[z] += p1 if blk[z] > 0 else m1
                z += 1
            eobrun -= 1

    if ns == 1:
        rows, cols = scan[0]["coef"].shape[:2]
        units = [[(0, by, bx)] for by in range(rows) for bx in range(cols)]
    else:
        mcus_y, mcus_x = frame["mcus"]
        units = [
            [
                (k, my * c["v"] + v, mx * c["h"] + h)
                for k, c in enumerate(scan)
                for v in range(c["v"])
                for h in range(c["h"])
            ]
            for my in range(mcus_y)
            for mx in range(mcus_x)
        ]
    ac = ac_refine if ah else ac_first
    for u, unit in enumerate(units):
        if ri and u and u % ri == 0:
            rd.restart(u // ri - 1)
            pred = [0] * ns
            eobrun = 0
        for k, by, bx in unit:
            blk = scan[k]["coef"][by, bx]
            if ss == 0:
                dc(blk, k)
            if se:
                ac(blk, k)


def _jpeg(buf: bytes):
    """Baseline (SOF0) or progressive (SOF2) JPEG -> (planes, w, h): one
    (h, w) int64 pixel plane per frame component, in frame order. One
    marker walk (DQT, DHT anywhere, DRI, any number of scans); every scan
    fills per-component coefficient arrays; then one tail dequantizes,
    runs the separable float IDCT per 8x8 block, level-shifts, clamps and
    box-upsamples subsampled components (pixel replication, libjpeg's
    do_fancy_upsampling=FALSE). Any integer sampling ratio; dims must be
    whole MCUs."""
    import re
    import struct

    import numpy as np

    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    qt: dict = {}
    tables: dict = {0: {}, 1: {}}  # DHT class 0 = DC, 1 = AC
    frame = None
    ri = n_scans = 0
    pos = 2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("marker sync lost")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", buf, pos + 2)
        body = buf[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            while body:
                if body[0] >> 4:
                    raise ValueError("16-bit quant tables unsupported")
                qt[body[0] & 0x0F] = np.frombuffer(body[1:65], dtype=np.uint8).astype(np.int64)
                body = body[65:]
        elif marker == 0xC4:  # DHT
            while body:
                n = sum(body[1:17])
                codes = _jpeg_huff_codes(body[1:17], body[17 : 17 + n])
                tables[body[0] >> 4][body[0] & 0x0F] = {
                    (length, code): sym for sym, (code, length) in codes.items()
                }
                body = body[17 + n :]
        elif marker == 0xDD:  # DRI: restart interval in MCUs, 0 = none
            (ri,) = struct.unpack_from(">H", body)
        elif marker in (0xC0, 0xC2):  # SOF0 baseline, SOF2 progressive
            prec, hh, ww, ncomp = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = [
                {"id": body[6 + 3 * k], "h": body[7 + 3 * k] >> 4,
                 "v": body[7 + 3 * k] & 0x0F, "tq": body[8 + 3 * k]}
                for k in range(ncomp)
            ]
            hmax, vmax = max(c["h"] for c in comps), max(c["v"] for c in comps)
            for c in comps:
                if c["h"] < 1 or c["v"] < 1 or hmax % c["h"] or vmax % c["v"]:
                    raise ValueError(f"non-integer sampling ratio {c['h']}x{c['v']}")
            if ww % (8 * hmax) or hh % (8 * vmax):
                raise ValueError(
                    f"dims must be MCU-aligned (multiples of {8 * hmax}x{8 * vmax} "
                    "for this sampling)"
                )
            mcus = (hh // (8 * vmax), ww // (8 * hmax))
            for c in comps:
                c["coef"] = np.zeros((mcus[0] * c["v"], mcus[1] * c["h"], 64), dtype=np.int64)
            frame = {
                "progressive": marker == 0xC2, "w": ww, "h": hh, "comps": comps, "mcus": mcus,
            }
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError(
                f"unsupported JPEG frame SOF{marker - 0xC0}: baseline and progressive only"
            )
        elif marker == 0xDA:  # SOS: entropy data runs to the next non-RST marker
            if frame is None:
                raise ValueError("SOS before SOF")
            end = re.search(rb"\xff[^\x00\xd0-\xd7]", buf[pos:])
            if end is None:
                raise ValueError("entropy data runs past the payload end (no EOI)")
            _jpeg_scan(frame, body, buf[pos : pos + end.start()], ri, tables)
            pos += end.start()
            n_scans += 1
        # APPn, COM and other segments: skipped by their length
    if frame is None or not n_scans:
        raise ValueError("no SOS segment found")
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    M = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)  # IDCT basis M[u, x]
    M[0, :] *= 1 / np.sqrt(2)
    natural = [8 * r + c for r, c in _JPEG_ZIGZAG]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    planes = []
    for c in frame["comps"]:
        if c["tq"] not in qt:
            raise ValueError(f"missing quantization table {c['tq']}")
        coef = c["coef"]
        plane = np.zeros((8 * coef.shape[0], 8 * coef.shape[1]), dtype=np.int64)
        cf = np.zeros(64)
        for by in range(coef.shape[0]):
            for bx in range(coef.shape[1]):
                cf[natural] = coef[by, bx] * qt[c["tq"]]
                block = M.T @ cf.reshape(8, 8) @ M  # separable 2-D IDCT
                px = np.clip(np.rint(block + 128), 0, 255)
                plane[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = px
        planes.append(plane.repeat(vmax // c["v"], axis=0).repeat(hmax // c["h"], axis=1))
    return planes, frame["w"], frame["h"]


def _jpeg_gray_stats(doc_id, payload):
    """Mean, min, max and top-left pixel of a one-component JPEG."""
    planes, w, h = _jpeg(payload)
    if len(planes) != 1:
        raise ValueError(f"gray stats need a 1-component JPEG, got {len(planes)}")
    img = planes[0]
    return [(
        doc_id, w, h, round(float(img.sum()) / (w * h), 6), int(img.min()),
        int(img.max()), int(img[0, 0]),
    )]


def _jpeg_rgb_stats(doc_id, payload):
    """Per-channel mean and top-left pixel of a three-component (YCbCr)
    JPEG after libjpeg's fixed-point color transform with clamping."""
    import numpy as np

    planes, w, h = _jpeg(payload)
    if len(planes) != 3:
        raise ValueError(f"RGB stats need a 3-component JPEG, got {len(planes)}")
    y, cb, cr = planes[0], planes[1] - 128, planes[2] - 128
    rgb = [
        np.clip(ch, 0, 255)
        for ch in (
            y + (_FIX_R_CR * cr + 32768) // 65536,
            y + (_FIX_G_CB * cb + _FIX_G_CR * cr + 32768) // 65536,
            y + (_FIX_B_CB * cb + 32768) // 65536,
        )
    ]
    return [(
        doc_id, w, h, *(round(float(ch.sum()) / (w * h), 6) for ch in rgb),
        *(int(ch[0, 0]) for ch in rgb),
    )]


synth_jpeg_payload = _synth(_jpeg_payload)
synth_jpeg_progressive_payload = _synth(_jpeg_progressive_payload)
synth_jpeg_color_payload = _synth(_jpeg_color_payload, 1, 1, 0)
synth_jpeg_420_payload = _synth(_jpeg_color_payload, 2, 2, 2)
synth_jpeg_422_payload = _synth(_jpeg_color_payload, 2, 1, 0)
decode_jpeg_pixel_stats = _decoder(_jpeg_gray_stats, JPEG_STATS_SCHEMA)
decode_jpeg_color_pixel_stats = _decoder(_jpeg_rgb_stats, JPEG_COLOR_STATS_SCHEMA)


# --------------------------------------------------------------------------
# TIFF 6.0: both byte orders, 8-bit grayscale strips, no compression,
# PackBits (§9) or LZW (§13) with the horizontal predictor (§14)
# --------------------------------------------------------------------------
#
# TIFF LZW differs from GIF's in exactly two ways, so it keeps its own
# pair: codes pack MSB-first, and the code width bumps one code early
# (when the next free slot reaches (1 << width) - 1). ClearCode=256,
# EOI=257, 9-bit first codes, an encoder CLEAR at the spec's 4094.


def _tiff_lzw_compress(data: bytes) -> bytes:
    clear, eoi = 256, 257
    acc = nbits = 0
    out = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code  # MSB-first
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = eoi + 1, 9
    emit(clear, width)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1  # early change: the NEXT emit uses the new width
        if next_code == 4094:  # spec reset point
            emit(clear, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = eoi + 1, 9
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _tiff_lzw_decompress(data: bytes, expect: int) -> bytes:
    """Inverse of _tiff_lzw_compress: MSB-first reads, CLEAR reset,
    KwKwK, and the early-change width bump. The decoder's dictionary
    lags the encoder's by exactly one entry (the standard LZW deferred
    add), so the encoder's bump at next-free-slot == (1 << width) - 1
    lands here at len(table) == (1 << width) - 2 — the pair is
    roundtrip-exact and pinned by tests crossing every width boundary
    plus the 4094 reset."""
    clear, eoi = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    acc = nbits = pos = 0
    prev: bytes | None = None
    out = bytearray()
    while len(out) < expect:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("TIFF LZW stream ended without EOI")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == clear:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and (code < clear or table[code]):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"corrupt TIFF LZW code {code}")
        out.extend(entry)
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1  # early change, minus the one-entry lag
        prev = entry
    if len(out) != expect:
        raise ValueError(
            f"TIFF LZW expansion mismatch: {len(out)} != {expect}"
        )
    return bytes(out)


def _tiff_file(en: str, tags: list, after_ifd: bytes) -> bytes:
    """Header, one IFD and what follows it. A tag is a (tag, type, value)
    triple, one inline SHORT (3) or LONG (4), or an entry already packed
    as bytes (an array behind an offset)."""
    import struct

    ifd = struct.pack(en + "H", len(tags))
    for t in tags:
        if not isinstance(t, bytes):
            tag, typ, value = t
            v = struct.pack(en + "HH", value, 0) if typ == 3 else struct.pack(en + "I", value)
            t = struct.pack(en + "HHI", tag, typ, 1) + v
        ifd += t
    ifd += struct.pack(en + "I", 0)  # next IFD: none
    return struct.pack(en + "2sHI", b"II" if en == "<" else b"MM", 42, 8) + ifd + after_ifd


def _tiff_payload(i: int) -> bytes:
    """Single-strip grayscale TIFFs, width 16 + 8*(doc_id % 3), height
    8 + 4*(doc_id % 2), row y constant at (doc_id*37 + y*53) % 256; even
    doc_ids II uncompressed, odd MM PackBits (constant rows make real
    repeat runs)."""
    w, h = 16 + 8 * (i % 3), 8 + 4 * (i % 2)
    en = "<" if i % 2 == 0 else ">"
    comp = 1 if i % 2 == 0 else 32773
    strip = bytearray()
    for y in range(h):
        v = (i * 37 + y * 53) % 256
        if comp == 1:
            strip += bytes([v]) * w
        else:  # PackBits repeat runs: header 257 - n repeats the next byte n <= 128 times
            left = w
            while left:
                n = min(128, left)
                strip += bytes([257 - n, v])
                left -= n
    strip_off = 8 + 2 + 9 * 12 + 4
    tags = [
        (256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, comp),
        (262, 3, 1),  # Photometric: BlackIsZero
        (273, 4, strip_off), (277, 3, 1), (278, 3, h), (279, 4, len(strip)),
    ]
    return _tiff_file(en, tags, bytes(strip))


def _tiff_lzw_payload(i: int) -> bytes:
    """Single-strip LZW TIFFs, pixel(x, y) = (doc_id*37 + y*53 + x*29) %
    256; even doc_ids II with Predictor 1, odd MM with Predictor 2 (the
    strip stores row diffs mod 256)."""
    import numpy as np

    w, h = 16 + 8 * (i % 3), 8 + 4 * (i % 2)
    en = "<" if i % 2 == 0 else ">"
    pred = 1 if i % 2 == 0 else 2
    y, x = np.mgrid[0:h, 0:w]
    plane = ((i * 37 + y * 53 + x * 29) % 256).astype(np.uint8).astype(np.int64)
    if pred == 2:
        plane[:, 1:] = (plane[:, 1:] - plane[:, :-1]) % 256
    strip = _tiff_lzw_compress(plane.astype(np.uint8).tobytes())
    strip_off = 8 + 2 + 10 * 12 + 4
    tags = [
        (256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, 5), (262, 3, 1),
        (273, 4, strip_off), (277, 3, 1), (278, 3, h), (279, 4, len(strip)),
        (317, 3, pred),
    ]
    return _tiff_file(en, tags, strip)


def _tiff_multistrip_payload(i: int) -> bytes:
    """Multi-strip LZW TIFFs: RowsPerStrip 4 splits each image into 3-4
    independently compressed strips whose StripOffsets/StripByteCounts
    are LONG arrays behind offsets; pixel(x, y) = (doc_id*41 + y*59 +
    x*31) % 256, even doc_ids II Predictor 1, odd MM Predictor 2."""
    import struct

    import numpy as np

    w, h, rps = 16 + 8 * (i % 3), 12 + 4 * (i % 2), 4
    en = "<" if i % 2 == 0 else ">"
    pred = 1 if i % 2 == 0 else 2
    y, x = np.mgrid[0:h, 0:w]
    plane = ((i * 41 + y * 59 + x * 31) % 256).astype(np.int64)
    if pred == 2:
        plane[:, 1:] = (plane[:, 1:] - plane[:, :-1]) % 256
    strips = [
        _tiff_lzw_compress(plane[s : s + rps].astype(np.uint8).tobytes())
        for s in range(0, h, rps)
    ]
    n = len(strips)
    # layout: header | IFD | offsets array | counts array | strip data
    arr_off = 8 + 2 + 10 * 12 + 4
    offs, pos = [], arr_off + 8 * n
    for s in strips:
        offs.append(pos)
        pos += len(s)
    tags = [
        (256, 3, w), (257, 3, h), (258, 3, 8), (259, 3, 5), (262, 3, 1),
        struct.pack(en + "HHII", 273, 4, n, arr_off), (277, 3, 1),
        (278, 3, rps), struct.pack(en + "HHII", 279, 4, n, arr_off + 4 * n),
        (317, 3, pred),
    ]
    arrays = struct.pack(en + "I" * n, *offs) + struct.pack(en + "I" * n, *map(len, strips))
    return _tiff_file(en, tags, arrays + b"".join(strips))


def _tiff(buf: bytes):
    """TIFF -> ((h, w) uint8 image, byte order, compressed?): II/MM
    dispatch, IFD walk (SHORT/LONG values inline or behind an offset),
    per-strip decompression (each strip an independent stream: none,
    PackBits — n in [0, 127] copies n+1 literals, [129, 255] repeats the
    next byte 257-n times, 128 is a no-op — or LZW), then the horizontal
    predictor undone by a cumulative sum. Multi-sample images, depths
    other than 8 and other compressions refuse."""
    import struct

    import numpy as np

    if buf[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF payload (no II/MM magic)")
    order = buf[:2].decode()
    en = "<" if order == "II" else ">"
    magic, ifd_off = struct.unpack(en + "HI", buf[2:8])
    if magic != 42:
        raise ValueError("bad TIFF magic number")
    (n_entries,) = struct.unpack(en + "H", buf[ifd_off : ifd_off + 2])
    tags = {}
    for j in range(n_entries):
        off = ifd_off + 2 + j * 12
        tag, typ, count = struct.unpack(en + "HHI", buf[off : off + 8])
        if typ not in (3, 4) or count < 1:
            raise ValueError(f"unsupported IFD entry: tag={tag} type={typ} count={count}")
        fmt = ("H" if typ == 3 else "I") * count
        size = (2 if typ == 3 else 4) * count
        if size <= 4:
            vals = struct.unpack(en + fmt, buf[off + 8 : off + 8 + size])
        else:
            (p_off,) = struct.unpack(en + "I", buf[off + 8 : off + 12])
            vals = struct.unpack(en + fmt, buf[p_off : p_off + size])
        tags[tag] = vals[0] if count == 1 else list(vals)
    w, h = tags[256], tags[257]
    comp, pred = tags.get(259, 1), tags.get(317, 1)
    if tags.get(258, 1) != 8 or tags.get(277, 1) != 1:
        raise ValueError("only 8-bit single-sample TIFF supported")
    if comp not in (1, 32773, 5):
        raise ValueError(f"unsupported compression {comp}")
    if pred not in (1, 2):
        raise ValueError(f"unsupported predictor {pred}")
    offs, cnts = tags[273], tags[279]
    offs = offs if isinstance(offs, list) else [offs]
    cnts = cnts if isinstance(cnts, list) else [cnts]
    if len(offs) != len(cnts):
        raise ValueError("StripOffsets/StripByteCounts mismatch")
    rps = tags.get(278, h)
    if len(offs) != -(-h // rps):
        raise ValueError(
            f"strip count {len(offs)} does not match RowsPerStrip={rps} for height {h}"
        )
    parts = []
    for s, (o, n) in enumerate(zip(offs, cnts)):
        expect = min(rps, h - s * rps) * w
        raw = buf[o : o + n]
        if comp == 1:
            parts.append(raw[:expect])
        elif comp == 5:
            parts.append(_tiff_lzw_decompress(raw, expect))
        else:
            out, k = bytearray(), 0
            while k < len(raw) and len(out) < expect:
                hdr = raw[k]
                k += 1
                if hdr < 128:
                    out += raw[k : k + hdr + 1]
                    k += hdr + 1
                elif hdr > 128:
                    out += bytes([raw[k]]) * (257 - hdr)
                    k += 1
            if len(out) != expect:
                raise ValueError(f"PackBits expansion mismatch: {len(out)} != {expect}")
            parts.append(bytes(out))
    data = b"".join(parts)
    if len(data) < w * h:
        raise ValueError("strips shorter than image")
    img = np.frombuffer(data[: w * h], np.uint8).reshape(h, w)
    if pred == 2:  # stored bytes are per-row diffs mod 256
        img = (np.cumsum(img.astype(np.int64), axis=1) % 256).astype(np.uint8)
    return img, order, comp != 1


def _tiff_stats(doc_id, payload):
    """Size, byte order, compression flag, mean, min, max and top-left
    pixel of a grayscale TIFF."""
    img, order, compressed = _tiff(payload)
    h, w = img.shape
    return [(
        doc_id, w, h, order, compressed, round(float(img.sum()) / (w * h), 6),
        int(img.min()), int(img.max()), int(img[0, 0]),
    )]


synth_tiff_payload = _synth(_tiff_payload)
synth_tiff_lzw_payload = _synth(_tiff_lzw_payload)
synth_tiff_multistrip_lzw_payload = _synth(_tiff_multistrip_payload)
decode_tiff_pixel_stats = _decoder(_tiff_stats, TIFF_STATS_SCHEMA)


# --------------------------------------------------------------------------
# Video containers: ISO BMFF (MP4) box walk and Matroska EBML walk. Codec,
# geometry, duration and keyframe count come from container metadata
# alone; frame decode is out of scope (no codec library here).
# --------------------------------------------------------------------------

_MP4_CODECS = ("avc1", "hev1", "av01")
_MKV_CODECS = ("V_MPEG4/ISO/AVC", "V_MPEGH/ISO/HEVC", "V_AV1")


def _video_payload(i: int) -> bytes:
    """Video containers with opaque filler frames: even doc_ids MP4
    (ftyp + moov[mvhd, trak[tkhd, mdia[mdhd, hdlr, minf[stbl[stsd,
    stss]]]]] + mdat), odd MKV (EBML header + Segment[Info,
    Tracks[TrackEntry[CodecID, Video]], Cues]); codec doc_id % 3, size
    (16 + doc_id % 101) x (16 + doc_id % 53), duration 1000 +
    (doc_id % 977)*40 ms, 1 + doc_id % 29 keyframes."""
    import struct

    def mp4_box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    def ebml_el(eid: bytes, body: bytes) -> bytes:
        # data-size varint: L bytes, the first carrying L-1 zero bits then
        # a marker bit (an all-ones value is reserved for 'unknown size')
        n = len(body)
        length = next(k for k in range(1, 9) if n < (1 << (7 * k)) - 1)
        return eid + ((1 << (7 * length)) | n).to_bytes(length, "big") + body

    def ebml_uint(eid: bytes, v: int) -> bytes:
        return ebml_el(eid, v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big"))

    w, h = 16 + i % 101, 16 + i % 53
    dur_ms = 1000 + (i % 977) * 40
    kf = 1 + i % 29
    if i % 2 == 0:
        codec = _MP4_CODECS[i % 3].encode()
        ftyp = mp4_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
        matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        # mvhd v0: timescale 1000 -> duration field IS milliseconds
        mvhd = mp4_box(
            b"mvhd",
            b"\x00\x00\x00\x00"
            + struct.pack(">II", 0, 0)                  # creation/modification
            + struct.pack(">II", 1000, dur_ms)          # timescale, duration
            + struct.pack(">I", 0x00010000)             # rate 1.0
            + struct.pack(">H", 0x0100) + b"\x00" * 10  # volume + reserved
            + matrix + b"\x00" * 24
            + struct.pack(">I", 2),                     # next track id
        )
        tkhd = mp4_box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", 1) + b"\x00" * 4        # track id + reserved
            + struct.pack(">I", dur_ms) + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)          # layer/group/volume/rsvd
            + matrix
            + struct.pack(">II", w << 16, h << 16),     # 16.16 fixed point
        )
        mdhd = mp4_box(
            b"mdhd",
            b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
            + struct.pack(">II", 1000, dur_ms)
            + struct.pack(">HH", 0x55C4, 0),            # language 'und'
        )
        hdlr = mp4_box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide" + b"\x00" * 13)
        entry = (
            struct.pack(">I", 8 + 78) + codec
            + b"\x00" * 6 + struct.pack(">H", 1)        # data_reference_index
            + b"\x00" * 16
            + struct.pack(">HH", w, h)
            + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
            + b"\x00" * 4 + struct.pack(">H", 1)        # frame_count
            + b"\x00" * 32                              # compressorname
            + struct.pack(">Hh", 24, -1)                # depth, predefined
        )
        stsd = mp4_box(b"stsd", b"\x00\x00\x00\x00" + struct.pack(">I", 1) + entry)
        stss = mp4_box(
            b"stss",
            b"\x00\x00\x00\x00" + struct.pack(">I", kf)
            + b"".join(struct.pack(">I", 1 + 30 * j) for j in range(kf)),
        )
        minf = mp4_box(b"minf", mp4_box(b"stbl", stsd + stss))
        trak = mp4_box(b"trak", tkhd + mp4_box(b"mdia", mdhd + hdlr + minf))
        moov = mp4_box(b"moov", mvhd + trak)
        return ftyp + moov + mp4_box(b"mdat", bytes(16))  # opaque filler frames
    codec = _MKV_CODECS[i % 3].encode()
    header = ebml_el(
        b"\x1a\x45\xdf\xa3",
        ebml_uint(b"\x42\x86", 1) + ebml_uint(b"\x42\xf7", 1)
        + ebml_uint(b"\x42\xf2", 4) + ebml_uint(b"\x42\xf3", 8)
        + ebml_el(b"\x42\x82", b"matroska")
        + ebml_uint(b"\x42\x87", 4) + ebml_uint(b"\x42\x85", 2),
    )
    info = ebml_el(
        b"\x15\x49\xa9\x66",
        ebml_uint(b"\x2a\xd7\xb1", 1_000_000)      # 1 ms per tick
        + ebml_el(b"\x44\x89", struct.pack(">d", float(dur_ms))),
    )
    video = ebml_el(b"\xe0", ebml_uint(b"\xb0", w) + ebml_uint(b"\xba", h))
    track_entry = ebml_el(
        b"\xae",
        ebml_uint(b"\xd7", 1) + ebml_uint(b"\x73\xc5", i + 1)
        + ebml_uint(b"\x83", 1)                    # TrackType: video
        + ebml_el(b"\x86", codec) + video,
    )
    cues = ebml_el(
        b"\x1c\x53\xbb\x6b",
        b"".join(
            ebml_el(
                b"\xbb",
                ebml_uint(b"\xb3", 30 * j)
                + ebml_el(b"\xb7", ebml_uint(b"\xf7", 1) + ebml_uint(b"\xf1", 100 + j)),
            )
            for j in range(kf)
        ),
    )
    tracks = ebml_el(b"\x16\x54\xae\x6b", track_entry)
    return header + ebml_el(b"\x18\x53\x80\x67", info + tracks + cues)


def _video(buf: bytes) -> dict:
    """MP4 or MKV -> {container, codec, width, height, duration_ms,
    n_keyframes}: a generic ISO BMFF box walk (size/type framing,
    64-bit largesize, recursion into moov/trak/mdia/minf/stbl,
    version-aware mvhd/tkhd offsets, stsd fourcc, stss count) and a
    generic EBML walk (leading-bit varint ids and sizes, recursion into
    Segment/Info/Tracks/TrackEntry/Video/Cues, one CuePoint per
    keyframe). Any other payload is container 'unknown'."""
    import struct

    mp4_containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
    ebml_containers = {
        b"\x18\x53\x80\x67",  # Segment
        b"\x15\x49\xa9\x66",  # Info
        b"\x16\x54\xae\x6b",  # Tracks
        b"\xae",              # TrackEntry
        b"\xe0",              # Video
        b"\x1c\x53\xbb\x6b",  # Cues
    }

    def walk_mp4(buf: bytes, out: dict) -> None:
        pos = 0
        while pos + 8 <= len(buf):
            size, btype = struct.unpack(">I", buf[pos : pos + 4])[0], buf[pos + 4 : pos + 8]
            if size == 1:  # 64-bit largesize
                size = struct.unpack(">Q", buf[pos + 8 : pos + 16])[0]
                body = buf[pos + 16 : pos + size]
            else:
                body = buf[pos + 8 : pos + size]
            if size < 8:
                break  # malformed framing: stop, keep what we have
            if btype in mp4_containers:
                walk_mp4(body, out)
            elif btype == b"mvhd":
                if body[0] == 1:
                    ts, dur = struct.unpack(">IQ", body[20:32])
                else:
                    ts, dur = struct.unpack(">II", body[12:20])
                out["duration_ms"] = int(round(dur * 1000 / ts)) if ts else None
            elif btype == b"tkhd":
                off = 88 if body[0] == 1 else 76
                w16, h16 = struct.unpack(">II", body[off : off + 8])
                out["width"], out["height"] = w16 >> 16, h16 >> 16
            elif btype == b"stsd":
                (n,) = struct.unpack(">I", body[4:8])
                if n >= 1:
                    out["codec"] = body[12:16].decode("ascii", "replace")
            elif btype == b"stss":
                (out["n_keyframes"],) = struct.unpack(">I", body[4:8])
            pos += size

    def vint(buf: bytes, pos: int, keep_marker: bool):
        """(value_or_raw, new_pos): EBML ids keep their raw bytes, sizes
        strip the marker bit."""
        first = buf[pos]
        for length in range(1, 9):
            if first & (0x80 >> (length - 1)):
                raw = buf[pos : pos + length]
                if keep_marker:
                    return raw, pos + length
                return int.from_bytes(raw, "big") & ((1 << (7 * length)) - 1), pos + length
        raise ValueError("invalid EBML varint")

    def walk_ebml(buf: bytes, out: dict) -> None:
        pos = 0
        while pos < len(buf):
            eid, pos = vint(buf, pos, keep_marker=True)
            size, pos = vint(buf, pos, keep_marker=False)
            body = buf[pos : pos + size]
            pos += size
            if eid in ebml_containers:
                walk_ebml(body, out)
            elif eid == b"\x2a\xd7\xb1":  # TimestampScale (ns per tick)
                out["ts_scale"] = int.from_bytes(body, "big")
            elif eid == b"\x44\x89":      # Duration (float, in ticks)
                out["dur_ticks"] = struct.unpack(">d" if len(body) == 8 else ">f", body)[0]
            elif eid == b"\x86":          # CodecID
                out["codec"] = body.decode("ascii", "replace")
            elif eid == b"\xb0":
                out["width"] = int.from_bytes(body, "big")
            elif eid == b"\xba":
                out["height"] = int.from_bytes(body, "big")
            elif eid == b"\xbb":          # CuePoint == one keyframe index
                out["n_keyframes"] = out.get("n_keyframes", 0) + 1

    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        out: dict = {"container": "mp4"}
        walk_mp4(buf, out)
        return out
    if buf[:4] == b"\x1a\x45\xdf\xa3":
        out = {"container": "mkv"}
        walk_ebml(buf, out)
        scale, ticks = out.pop("ts_scale", None), out.pop("dur_ticks", None)
        if scale is not None and ticks is not None:
            out["duration_ms"] = int(round(ticks * scale / 1_000_000))
        return out
    return {"container": "unknown"}


def _video_stats(doc_id, payload):
    """Container, codec, size, duration and keyframe count of a video."""
    r = _video(payload)
    return [(doc_id, *(r.get(f) for f in VIDEO_CONTAINER_SCHEMA.names[1:]))]


synth_video_container_payload = _synth(_video_payload)
parse_video_container_stats = _decoder(_video_stats, VIDEO_CONTAINER_SCHEMA)


# --------------------------------------------------------------------------
# The query table: (name, synth, decode, oracle, tags, doc). Each query
# runs decode(synth(documents)); the oracle recomputes its rows from the
# generating formula in DuckDB SQL.
# --------------------------------------------------------------------------

# (name, synth, decode, tags, doc, oracle)
_QUERIES = (
    (
        "multimodal_resize_stats",
        _text_payloads,
        lambda df: resize_payloads(df, 256).select("doc_id", "n_bytes_in", "n_bytes_out"),
        ("multimodal",),
        "Input and output byte sizes of the 256-byte resize stage.",
        """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes_in,
               least(octet_length(encode(text)), 256) AS n_bytes_out
        FROM documents WHERE text IS NOT NULL
    """,
    ),
    (
        "multimodal_frame_counts",
        _text_payloads,
        lambda df: sample_frames(df, 64, 4)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sampled_frames")),
        ("multimodal",),
        "Frames per document after stride-4 sampling of 64-byte frames.",
        """
        SELECT doc_id,
               CAST(ceil(greatest(octet_length(encode(text)) // 64, 1) / 4.0) AS BIGINT)
                   AS n_sampled_frames
        FROM documents WHERE text IS NOT NULL
    """,
    ),
    (
        "multimodal_payload_stats",
        _text_payloads,
        lambda df: decode_and_featurize(df).select("doc_id", "n_bytes", "payload_md5"),
        ("multimodal",),
        "Byte length and md5 of each text payload, byte-identical to DuckDB's blob functions.",
        """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents WHERE text IS NOT NULL
    """,
    ),
    (
        "multimodal_wav_pcm_stats",
        synth_wav_pcm_payload,
        decode_wav_pcm_stats,
        ("multimodal", "audio"),
        "Per-channel mean, peak and RMS amplitude of 16-bit PCM WAV files.",
        """
        WITH params AS (
            SELECT doc_id,
                   1 + doc_id % 2 AS n_channels,
                   50 + doc_id % 17 AS n_frames,
                   8000 + (doc_id % 5) * 8000 AS sample_rate
            FROM documents
        ),
        frames AS (
            SELECT doc_id, n_channels, n_frames, sample_rate,
                   UNNEST(range(0, n_frames)) AS k
            FROM params
        ),
        samples AS (
            SELECT doc_id, n_frames, sample_rate, k,
                   UNNEST(range(0, n_channels)) AS channel
            FROM frames
        ),
        amps AS (
            SELECT doc_id, n_frames, sample_rate, channel,
                   ((doc_id * 7919 + k * 31 + channel * 17) % 2003) - 1001 AS amp
            FROM samples
        )
        SELECT doc_id,
               CAST(channel AS INT) AS channel,
               CAST(n_frames AS INT) AS n_frames,
               CAST(sample_rate AS INT) AS sample_rate,
               round(avg(amp), 6) AS mean_amp,
               CAST(max(abs(amp)) AS INT) AS peak_amp,
               round(sqrt(avg(CAST(amp * amp AS DOUBLE))), 6) AS rms_amp
        FROM amps
        GROUP BY doc_id, channel, n_frames, sample_rate
    """,
    ),
    (
        "multimodal_header_sniff",
        synth_container_payload,
        sniff_container_headers,
        ("multimodal",),
        "Format, dimensions and sample rate sniffed from container headers.",
        """
        SELECT doc_id,
               CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                               WHEN 2 THEN 'gif' ELSE 'wav' END AS detected_format,
               CASE WHEN doc_id % 4 IN (0, 1, 2)
                    THEN CAST(16 + doc_id % 101 AS INT) END AS width,
               CASE WHEN doc_id % 4 IN (0, 1, 2)
                    THEN CAST(16 + doc_id % 53 AS INT) END AS height,
               CASE WHEN doc_id % 4 = 3
                    THEN CAST(8000 + (doc_id % 5) * 8000 AS INT) END AS sample_rate
        FROM documents
    """,
    ),
    (
        "multimodal_png_pixel_stats",
        synth_png_payload,
        decode_png_pixel_stats,
        ("multimodal", "image"),
        "Per-channel pixel stats of 8-bit RGB PNGs using all five scanline filters.",
        """
        WITH params AS (
            SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 4 AS h
            FROM documents
        ),
        ys AS (SELECT doc_id, w, h, UNNEST(range(0, h)) AS y FROM params),
        xs AS (SELECT doc_id, w, h, y, UNNEST(range(0, w)) AS x FROM ys),
        cs AS (SELECT doc_id, w, h, y, x, UNNEST(range(0, 3)) AS c FROM xs),
        vals AS (
            SELECT doc_id, w, h, c, x, y,
                   (doc_id * 149 + y * 41 + x * 13 + c * 5) % 256 AS v
            FROM cs
        )
        SELECT doc_id,
               CAST(c AS INT) AS channel,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(max(CASE WHEN x = 0 AND y = 0 THEN v END) AS INT) AS corner_val
        FROM vals
        GROUP BY doc_id, c, w, h
    """,
    ),
    (
        "multimodal_bmp_pixel_stats",
        synth_bmp_payload,
        decode_bmp_pixel_stats,
        ("multimodal", "image"),
        "Per-channel pixel stats of bottom-up, row-padded 24-bit BMPs.",
        """
        WITH params AS (
            SELECT doc_id, 3 + doc_id % 4 AS w, 2 + doc_id % 3 AS h
            FROM documents
        ),
        ys AS (SELECT doc_id, w, h, UNNEST(range(0, h)) AS y FROM params),
        xs AS (SELECT doc_id, w, h, y, UNNEST(range(0, w)) AS x FROM ys),
        cs AS (SELECT doc_id, w, h, y, x, UNNEST(range(0, 3)) AS c FROM xs),
        vals AS (
            SELECT doc_id, w, h, c, x, y,
                   (doc_id * 131 + y * 37 + x * 11 + c * 7) % 256 AS v
            FROM cs
        )
        SELECT doc_id,
               CAST(c AS INT) AS channel,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(max(CASE WHEN x = 0 AND y = 0 THEN v END) AS INT) AS corner_val
        FROM vals
        GROUP BY doc_id, c, w, h
    """,
    ),
    (
        "multimodal_gif_pixel_stats",
        synth_gif_payload,
        decode_gif_pixel_stats,
        ("multimodal", "image"),
        "Per-channel pixel stats of LZW-compressed GIFs with per-file palettes.",
        """
        WITH params AS (
            SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
            FROM documents
        ),
        ys AS (SELECT doc_id, w, h, UNNEST(range(0, h)) AS y FROM params),
        xs AS (SELECT doc_id, w, h, y, UNNEST(range(0, w)) AS x FROM ys),
        cs AS (SELECT doc_id, w, h, y, x, UNNEST(range(0, 3)) AS c FROM xs),
        vals AS (
            SELECT doc_id, w, h, c, x, y,
                   (((doc_id * 157 + y * 43 + x * 17) % 256) * 5
                    + c * 11 + doc_id) % 256 AS v
            FROM cs
        )
        SELECT doc_id,
               CAST(c AS INT) AS channel,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(max(CASE WHEN x = 0 AND y = 0 THEN v END) AS INT) AS corner_val
        FROM vals
        GROUP BY doc_id, c, w, h
    """,
    ),
    (
        "multimodal_jpeg_pixel_stats",
        synth_jpeg_payload,
        decode_jpeg_pixel_stats,
        ("multimodal", "image"),
        "Pixel stats of baseline grayscale JPEGs.",
        """
        WITH params AS (
            SELECT doc_id,
                   1 + doc_id % 3 AS bw,
                   1 + doc_id % 2 AS bh
            FROM documents
        ),
        bys AS (SELECT doc_id, bw, bh, UNNEST(range(0, bh)) AS by FROM params),
        bxs AS (SELECT doc_id, bw, bh, by, UNNEST(range(0, bw)) AS bx FROM bys),
        vals AS (
            SELECT doc_id, bw, bh,
                   (doc_id * 37 + bx * 59 + by * 83) % 256 AS v,
                   bx, by
            FROM bxs
        )
        SELECT doc_id,
               CAST(8 * bw AS INT) AS width,
               CAST(8 * bh AS INT) AS height,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN v END) AS INT) AS corner_val
        FROM vals
        GROUP BY doc_id, bw, bh
    """,
    ),
    (
        "multimodal_video_container_stats",
        synth_video_container_payload,
        parse_video_container_stats,
        ("multimodal", "video"),
        "Codec, geometry, duration and keyframe count parsed from MP4 and MKV containers.",
        """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'mp4' ELSE 'mkv' END AS container,
               CASE WHEN doc_id % 2 = 0 THEN
                    CASE doc_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hev1'
                                    ELSE 'av01' END
               ELSE
                    CASE doc_id % 3 WHEN 0 THEN 'V_MPEG4/ISO/AVC'
                                    WHEN 1 THEN 'V_MPEGH/ISO/HEVC'
                                    ELSE 'V_AV1' END
               END AS codec,
               CAST(16 + doc_id % 101 AS INT) AS width,
               CAST(16 + doc_id % 53 AS INT) AS height,
               CAST(1000 + (doc_id % 977) * 40 AS INT) AS duration_ms,
               CAST(1 + doc_id % 29 AS INT) AS n_keyframes
        FROM documents
    """,
    ),
    (
        "multimodal_jpeg_color_pixel_stats",
        synth_jpeg_color_payload,
        decode_jpeg_color_pixel_stats,
        ("multimodal", "image"),
        "Per-channel RGB stats of 4:4:4 color baseline JPEGs.",
        """
        WITH params AS (
            SELECT doc_id, 1 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
            FROM documents
        ),
        bys AS (SELECT doc_id, bw, bh, UNNEST(range(0, bh)) AS by FROM params),
        bxs AS (SELECT doc_id, bw, bh, by, UNNEST(range(0, bw)) AS bx FROM bys),
        ycc AS (
            SELECT doc_id, bw, bh, bx, by,
                   (doc_id * 37 + bx * 59 + by * 83) % 256 AS y,
                   (doc_id * 41 + bx * 67 + by * 89) % 256 - 128 AS cb,
                   (doc_id * 43 + bx * 71 + by * 97) % 256 - 128 AS cr
            FROM bxs
        ),
        rgb AS (
            SELECT doc_id, bw, bh, bx, by,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((91881 * cr + 32768) / 65536.0) AS BIGINT)
                   )) AS r,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((-22554 * cb - 46802 * cr + 32768) / 65536.0) AS BIGINT)
                   )) AS g,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((116130 * cb + 32768) / 65536.0) AS BIGINT)
                   )) AS b
            FROM ycc
        )
        SELECT doc_id,
               CAST(8 * bw AS INT) AS width,
               CAST(8 * bh AS INT) AS height,
               round(avg(CAST(r AS DOUBLE)), 6) AS mean_r,
               round(avg(CAST(g AS DOUBLE)), 6) AS mean_g,
               round(avg(CAST(b AS DOUBLE)), 6) AS mean_b,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN r END) AS INT) AS corner_r,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN g END) AS INT) AS corner_g,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN b END) AS INT) AS corner_b
        FROM rgb
        GROUP BY doc_id, bw, bh
    """,
    ),
    (
        "multimodal_jpeg_420_pixel_stats",
        synth_jpeg_420_payload,
        decode_jpeg_color_pixel_stats,
        ("multimodal", "image"),
        "Per-channel RGB stats of 4:2:0 baseline JPEGs with restart markers.",
        """
        WITH params AS (
            SELECT doc_id, 1 + doc_id % 2 AS mw, 1 + doc_id % 3 AS mh
            FROM documents
        ),
        bys AS (SELECT doc_id, mw, mh, UNNEST(range(0, 2 * mh)) AS by FROM params),
        bxs AS (SELECT doc_id, mw, mh, by, UNNEST(range(0, 2 * mw)) AS bx FROM bys),
        ycc AS (
            SELECT doc_id, mw, mh, bx, by,
                   (doc_id * 37 + bx * 59 + by * 83) % 256 AS y,
                   (doc_id * 41 + (bx // 2) * 67 + (by // 2) * 89) % 256 - 128 AS cb,
                   (doc_id * 43 + (bx // 2) * 71 + (by // 2) * 97) % 256 - 128 AS cr
            FROM bxs
        ),
        rgb AS (
            SELECT doc_id, mw, mh, bx, by,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((91881 * cr + 32768) / 65536.0) AS BIGINT)
                   )) AS r,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((-22554 * cb - 46802 * cr + 32768) / 65536.0) AS BIGINT)
                   )) AS g,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((116130 * cb + 32768) / 65536.0) AS BIGINT)
                   )) AS b
            FROM ycc
        )
        SELECT doc_id,
               CAST(16 * mw AS INT) AS width,
               CAST(16 * mh AS INT) AS height,
               round(avg(CAST(r AS DOUBLE)), 6) AS mean_r,
               round(avg(CAST(g AS DOUBLE)), 6) AS mean_g,
               round(avg(CAST(b AS DOUBLE)), 6) AS mean_b,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN r END) AS INT) AS corner_r,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN g END) AS INT) AS corner_g,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN b END) AS INT) AS corner_b
        FROM rgb
        GROUP BY doc_id, mw, mh
    """,
    ),
    (
        "multimodal_jpeg_progressive_pixel_stats",
        synth_jpeg_progressive_payload,
        decode_jpeg_pixel_stats,
        ("multimodal", "image"),
        "Pixel stats of three-scan progressive grayscale JPEGs.",
        """
        WITH params AS (
            SELECT doc_id,
                   1 + doc_id % 3 AS bw,
                   1 + doc_id % 2 AS bh
            FROM documents
        ),
        bys AS (SELECT doc_id, bw, bh, UNNEST(range(0, bh)) AS by FROM params),
        bxs AS (SELECT doc_id, bw, bh, by, UNNEST(range(0, bw)) AS bx FROM bys),
        vals AS (
            SELECT doc_id, bw, bh,
                   (doc_id * 37 + bx * 59 + by * 83) % 256 AS v,
                   bx, by
            FROM bxs
        )
        SELECT doc_id,
               CAST(8 * bw AS INT) AS width,
               CAST(8 * bh AS INT) AS height,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN v END) AS INT)
                   AS corner_val
        FROM vals
        GROUP BY doc_id, bw, bh
    """,
    ),
    (
        "multimodal_jpeg_422_pixel_stats",
        synth_jpeg_422_payload,
        decode_jpeg_color_pixel_stats,
        ("multimodal", "image"),
        "Per-channel RGB stats of 4:2:2 baseline JPEGs.",
        """
        WITH params AS (
            SELECT doc_id, 1 + doc_id % 2 AS mw, 1 + doc_id % 3 AS mh
            FROM documents
        ),
        bys AS (SELECT doc_id, mw, mh, UNNEST(range(0, mh)) AS by FROM params),
        bxs AS (SELECT doc_id, mw, mh, by, UNNEST(range(0, 2 * mw)) AS bx FROM bys),
        ycc AS (
            SELECT doc_id, mw, mh, bx, by,
                   (doc_id * 37 + bx * 59 + by * 83) % 256 AS y,
                   (doc_id * 41 + (bx // 2) * 67 + by * 89) % 256 - 128 AS cb,
                   (doc_id * 43 + (bx // 2) * 71 + by * 97) % 256 - 128 AS cr
            FROM bxs
        ),
        rgb AS (
            SELECT doc_id, mw, mh, bx, by,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((91881 * cr + 32768) / 65536.0) AS BIGINT)
                   )) AS r,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((-22554 * cb - 46802 * cr + 32768) / 65536.0) AS BIGINT)
                   )) AS g,
                   LEAST(255, GREATEST(0,
                       y + CAST(FLOOR((116130 * cb + 32768) / 65536.0) AS BIGINT)
                   )) AS b
            FROM ycc
        )
        SELECT doc_id,
               CAST(16 * mw AS INT) AS width,
               CAST(8 * mh AS INT) AS height,
               round(avg(CAST(r AS DOUBLE)), 6) AS mean_r,
               round(avg(CAST(g AS DOUBLE)), 6) AS mean_g,
               round(avg(CAST(b AS DOUBLE)), 6) AS mean_b,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN r END) AS INT) AS corner_r,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN g END) AS INT) AS corner_g,
               CAST(max(CASE WHEN bx = 0 AND by = 0 THEN b END) AS INT) AS corner_b
        FROM rgb
        GROUP BY doc_id, mw, mh
    """,
    ),
    (
        "multimodal_wav_adpcm_stats",
        synth_wav_adpcm_payload,
        decode_wav_adpcm_stats,
        ("multimodal", "audio", "adpcm"),
        "Sample stats of IMA ADPCM WAV files; the oracle replays the codec as a recursive CTE.",
        """
        WITH RECURSIVE step_tab(si, sv) AS (
            SELECT * FROM (VALUES
            (0, 7), (1, 8), (2, 9), (3, 10), (4, 11), (5, 12), (6, 13), (7,
            14), (8, 16), (9, 17), (10, 19), (11, 21), (12, 23), (13, 25),
            (14, 28), (15, 31), (16, 34), (17, 37), (18, 41), (19, 45), (20,
            50), (21, 55), (22, 60), (23, 66), (24, 73), (25, 80), (26, 88),
            (27, 97), (28, 107), (29, 118), (30, 130), (31, 143), (32, 157),
            (33, 173), (34, 190), (35, 209), (36, 230), (37, 253), (38, 279),
            (39, 307), (40, 337), (41, 371), (42, 408), (43, 449), (44, 494),
            (45, 544), (46, 598), (47, 658), (48, 724), (49, 796), (50, 876),
            (51, 963), (52, 1060), (53, 1166), (54, 1282), (55, 1411), (56,
            1552), (57, 1707), (58, 1878), (59, 2066), (60, 2272), (61, 2499),
            (62, 2749), (63, 3024), (64, 3327), (65, 3660), (66, 4026), (67,
            4428), (68, 4871), (69, 5358), (70, 5894), (71, 6484), (72, 7132),
            (73, 7845), (74, 8630), (75, 9493), (76, 10442), (77, 11487), (78,
            12635), (79, 13899), (80, 15289), (81, 16818), (82, 18500), (83,
            20350), (84, 22385), (85, 24623), (86, 27086), (87, 29794), (88,
            32767)
            ) t(si, sv)
        ),
        params AS (
            SELECT doc_id,
                   64 + 8 * (doc_id % 3) AS n_nib,
                   ((doc_id * 7919) % 2003) - 1001 AS p0,
                   doc_id % 89 AS idx0,
                   8000 + (doc_id % 4) * 4000 AS sample_rate
            FROM documents
        ),
        dec(doc_id, k, pred, idx) AS (
            SELECT doc_id, 0, p0, idx0 FROM params
            UNION ALL
            SELECT d.doc_id, d.k + 1,
                   GREATEST(-32768, LEAST(32767, d.pred
                       + CASE WHEN ((d.doc_id*13 + d.k*7) % 16) >= 8
                              THEN -1 ELSE 1 END
                       * ((st.sv // 8)
                          + CASE WHEN ((d.doc_id*13 + d.k*7) % 16) % 2 = 1
                                 THEN st.sv // 4 ELSE 0 END
                          + CASE WHEN (((d.doc_id*13 + d.k*7) % 16) // 2) % 2 = 1
                                 THEN st.sv // 2 ELSE 0 END
                          + CASE WHEN (((d.doc_id*13 + d.k*7) % 16) // 4) % 2 = 1
                                 THEN st.sv ELSE 0 END))),
                   GREATEST(0, LEAST(88, d.idx
                       + CASE ((d.doc_id*13 + d.k*7) % 16) % 8
                              WHEN 4 THEN 2 WHEN 5 THEN 4
                              WHEN 6 THEN 6 WHEN 7 THEN 8
                              ELSE -1 END))
            FROM dec d
            JOIN step_tab st ON st.si = d.idx
            JOIN params p ON p.doc_id = d.doc_id
            WHERE d.k < p.n_nib
        )
        SELECT d.doc_id,
               CAST(1 + p.n_nib AS INT) AS n_samples,
               CAST(p.sample_rate AS INT) AS sample_rate,
               round(avg(CAST(d.pred AS DOUBLE)), 6) AS mean_amp,
               CAST(min(d.pred) AS INT) AS min_amp,
               CAST(max(d.pred) AS INT) AS max_amp,
               CAST(max(CASE WHEN d.k = p.n_nib THEN d.pred END) AS INT)
                   AS end_amp
        FROM dec d JOIN params p ON p.doc_id = d.doc_id
        GROUP BY d.doc_id, p.n_nib, p.sample_rate
    """,
    ),
    (
        "multimodal_wav_g711_stats",
        synth_wav_g711_payload,
        decode_wav_g711_stats,
        ("multimodal", "audio", "g711"),
        "Sample stats of mu-law and A-law G.711 WAV files.",
        """
        WITH params AS (
            SELECT doc_id, 120 + doc_id % 9 AS n FROM documents
        ),
        bytes_ AS (
            SELECT doc_id, n, UNNEST(range(0, n)) AS k FROM params
        ),
        b_ AS (
            SELECT doc_id, n,
                   (doc_id * 19 + k * 11) % 256 AS b
            FROM bytes_
        ),
        fields AS (
            -- mu-law inverts all bits; A-law inverts the even bits
            SELECT doc_id, n,
                   CASE WHEN doc_id % 2 = 1 THEN 255 - b
                        ELSE xor(b, 85) END AS u
            FROM b_
        ),
        expanded AS (
            SELECT doc_id, n,
                   CASE WHEN u >= 128 THEN -1 ELSE 1 END
                   * CASE WHEN doc_id % 2 = 1 THEN
                       -- mu-law: ((mant*8 + 0x84) << exp) - 0x84
                       ((u % 16) * 8 + 132)
                         * CAST(pow(2, (u // 16) % 8) AS BIGINT) - 132
                     WHEN (u // 16) % 8 = 0 THEN
                       -- A-law segment 0: mant*16 + 8
                       (u % 16) * 16 + 8
                     ELSE
                       -- A-law: ((mant*16 + 0x108) << (exp - 1))
                       ((u % 16) * 16 + 264)
                         * CAST(pow(2, (u // 16) % 8 - 1) AS BIGINT)
                     END AS amp
            FROM fields
        )
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 1 THEN 'mulaw' ELSE 'alaw' END AS law,
               CAST(n AS INT) AS n_samples,
               round(avg(CAST(amp AS DOUBLE)), 6) AS mean_amp,
               CAST(min(amp) AS INT) AS min_amp,
               CAST(max(amp) AS INT) AS max_amp
        FROM expanded
        GROUP BY doc_id, n
    """,
    ),
    (
        "multimodal_tiff_pixel_stats",
        synth_tiff_payload,
        decode_tiff_pixel_stats,
        ("multimodal", "image", "tiff"),
        "Pixel stats of II uncompressed and MM PackBits grayscale TIFFs.",
        """
        WITH params AS (
            SELECT doc_id,
                   16 + 8 * (doc_id % 3) AS w,
                   8 + 4 * (doc_id % 2) AS h
            FROM documents
        ),
        rows_ AS (
            SELECT doc_id, w, h, UNNEST(range(0, h)) AS y FROM params
        ),
        vals AS (
            SELECT doc_id, w, h, y,
                   (doc_id * 37 + y * 53) % 256 AS v
            FROM rows_
        )
        SELECT doc_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
                   AS byte_order,
               doc_id % 2 = 1 AS compressed,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(max(CASE WHEN y = 0 THEN v END) AS INT) AS corner_val
        FROM vals
        GROUP BY doc_id, w, h
    """,
    ),
    (
        "multimodal_tiff_lzw_stats",
        synth_tiff_lzw_payload,
        decode_tiff_pixel_stats,
        ("multimodal", "image", "tiff", "lzw"),
        "Pixel stats of LZW TIFFs with and without the horizontal predictor.",
        """
        WITH params AS (
            SELECT doc_id,
                   16 + 8 * (doc_id % 3) AS w,
                   8 + 4 * (doc_id % 2) AS h
            FROM documents
        ),
        rows_ AS (
            SELECT doc_id, w, h, UNNEST(range(0, h)) AS y FROM params
        ),
        pix AS (
            SELECT doc_id, w, h, y, UNNEST(range(0, w)) AS x FROM rows_
        ),
        vals AS (
            SELECT doc_id, w, h, y,
                   (doc_id * 37 + y * 53 + x * 29) % 256 AS v
            FROM pix
        )
        SELECT doc_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
                   AS byte_order,
               TRUE AS compressed,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(doc_id * 37 % 256 AS INT) AS corner_val
        FROM vals
        GROUP BY doc_id, w, h
    """,
    ),
    (
        "multimodal_png_adam7_stats",
        synth_png_adam7_payload,
        decode_png_pixel_stats,
        ("multimodal", "image", "png", "interlace"),
        "Per-channel sample stats of 16-bit RGB Adam7-interlaced PNGs.",
        """
        WITH params AS (
            SELECT doc_id, 8 + doc_id % 5 AS w, 8 + doc_id % 4 AS h
            FROM documents
        ),
        ys AS (SELECT doc_id, w, h, UNNEST(range(0, h)) AS y FROM params),
        xs AS (SELECT doc_id, w, h, y, UNNEST(range(0, w)) AS x FROM ys),
        cs AS (SELECT doc_id, w, h, y, x, UNNEST(range(0, 3)) AS c FROM xs),
        vals AS (
            SELECT doc_id, w, h, c, x, y,
                   (doc_id * 40503 + y * 1031 + x * 527 + c * 257) % 65536
                       AS v
            FROM cs
        )
        SELECT doc_id,
               CAST(c AS INT) AS channel,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(max(CASE WHEN x = 0 AND y = 0 THEN v END) AS INT)
                   AS corner_val
        FROM vals
        GROUP BY doc_id, c, w, h
    """,
    ),
    (
        "multimodal_tiff_multistrip_stats",
        synth_tiff_multistrip_lzw_payload,
        decode_tiff_pixel_stats,
        ("multimodal", "image", "tiff", "lzw"),
        "Pixel stats of multi-strip LZW TIFFs, one LZW stream per strip.",
        """
        WITH params AS (
            SELECT doc_id,
                   16 + 8 * (doc_id % 3) AS w,
                   12 + 4 * (doc_id % 2) AS h
            FROM documents
        ),
        rows_ AS (
            SELECT doc_id, w, h, UNNEST(range(0, h)) AS y FROM params
        ),
        pix AS (
            SELECT doc_id, w, h, y, UNNEST(range(0, w)) AS x FROM rows_
        ),
        vals AS (
            SELECT doc_id, w, h, y,
                   (doc_id * 41 + y * 59 + x * 31) % 256 AS v
            FROM pix
        )
        SELECT doc_id,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END
                   AS byte_order,
               TRUE AS compressed,
               round(avg(CAST(v AS DOUBLE)), 6) AS mean_val,
               CAST(min(v) AS INT) AS min_val,
               CAST(max(v) AS INT) AS max_val,
               CAST(doc_id * 41 % 256 AS INT) AS corner_val
        FROM vals
        GROUP BY doc_id, w, h
    """,
    ),
)


def _register_all() -> None:
    for name, synth, decode, tags, doc, oracle in _QUERIES:
        def run(spark, sf_dir, synth=synth, decode=decode):
            return decode(synth(load_table(spark, sf_dir, "documents")))

        run.__name__ = run.__qualname__ = name
        run.__doc__ = doc
        register(name, oracle=oracle, tags=tags)(run)


_register_all()
