"""Multimodal column plumbing: image/audio/video as opaque ``binary``
payloads with typed metadata (MEDIA_SCHEMA), processed by Arrow-batched
``mapInPandas`` operators.

The container has no codec LIBRARIES, so library-backed decodes are
STUBBED: ``decode_media`` raises NotImplementedError unless
``fake=True``, in which case a deterministic fake decoder (byte-stats
pseudo-features) exercises the full Spark-side path — schema handling,
Arrow batch shapes, partition-parallel execution — which is the part that
must be right at 100 TB. FOUR real decoders need no library at all,
each value-oracled end to end by a gate query: uncompressed 24-bit BMP
(``decode_bmp24`` — header parse, row padding, bottom-up flip), RIFF/
WAVE PCM16 (``decode_wav_pcm16`` — chunk walk, sample decode),
non-interlaced 8-bit PNG (``decode_png`` — chunk walk + CRC, stdlib
zlib inflate, all five scanline defilter types incl. paeth), and
baseline sequential JPEG (``decode_jpeg`` — marker walk, canonical
Huffman entropy decode with restart markers, dequant + IDCT, 4:2:0
upsampling, YCbCr->RGB). The remaining stub boundary is progressive/
arithmetic JPEG and compressed audio/video, whose coders genuinely
need codec libraries. That boundary is FINAL by design — see
"Multimodal codec boundary" in docs/API.md §11 for the rationale and
the refusal tests that pin it; callers on a real cluster plug their
codec library into the same ``mapInPandas`` seam.

Scale notes:
- media rows are large (MBs); keep ``spark.sql.files.maxPartitionBytes``
  at default so scan tasks hold a handful of payloads, and NEVER collect
  payload columns to the driver;
- ``mapInPandas`` streams Arrow batches — peak executor memory is one
  batch of payloads per task, controlled by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (set it low, e.g. 32,
  for multi-MB payloads);
- feature outputs drop the payload column as early as possible so
  downstream stages shuffle features (KBs), not media (MBs).
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pos_dlt_spark.pyworker import map_in_pandas

MEDIA_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("byte_mean", DoubleType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def decode_media(payload: bytes, kind: str, fake: bool = False) -> list[float]:
    """Decode a media payload into a feature vector.

    Only the library-backed codecs are stubbed — four formats decode
    for REAL with no library at all (BMP24 :func:`decode_bmp24`, WAV
    PCM16 :func:`decode_wav_pcm16`, PNG :func:`decode_png`, baseline
    JPEG :func:`decode_jpeg`); the remaining boundary is progressive/
    arithmetic JPEG and compressed audio/video, whose coders genuinely
    need PIL/librosa/ffmpeg — callers on a real cluster plug those in
    here. The deterministic fake derives an 8-dim byte-histogram
    feature so tests cover the distributed plumbing end-to-end.
    """
    if not fake:
        raise NotImplementedError(
            "progressive-JPEG/compressed-AV codecs not available in this "
            "environment (BMP/WAV/PNG/baseline-JPEG decode for real via "
            "decode_bmp24 / decode_wav_pcm16 / decode_png / decode_jpeg); "
            "pass fake=True for the deterministic byte-stats decoder"
        )
    if payload is None or len(payload) == 0:
        return [0.0] * 8
    import numpy as np

    b = np.frombuffer(payload, dtype=np.uint8)
    # exact integer bucket counts, divided once in double — identical to
    # the per-byte Python loop's ``count / n`` (both divide exact ints)
    buckets = np.bincount(b >> 5, minlength=8).astype(np.int64)
    n = len(payload)
    return [int(c) / n for c in buckets]


def extract_media_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """mapInPandas operator: (media_id, kind, payload) -> features.

    Arrow-batched; each task processes its partition's batches
    independently — embarrassingly parallel, no shuffle. Per-payload
    stats run through numpy (frombuffer + bincount), not per-byte
    Python — exact int sums divided once, so values are bit-identical
    to the scalar loop they replaced (guide §4.2)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes, byte_means, feats = [], [], []
            for p, k in zip(pdf["payload"], pdf["kind"]):
                if p is None or len(p) == 0:
                    n_bytes.append(0)
                    byte_means.append(0.0)
                    feats.append(decode_media(p, k, fake=fake))
                    continue
                arr = np.frombuffer(p, dtype=np.uint8)
                n_bytes.append(len(p))
                byte_means.append(int(arr.sum(dtype=np.int64)) / len(p))
                feats.append(decode_media(p, k, fake=fake))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": n_bytes,
                    "byte_mean": byte_means,
                    "feature": feats,
                }
            )

    return map_in_pandas(df.select("media_id", "kind", "payload"), run, MEDIA_FEATURE_SCHEMA)


# -- real decoder: uncompressed 24-bit BMP (no codec library needed) ---------

BMP_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_b", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_r", LongType()),
        StructField("checksum_r", LongType()),
    ]
)


def encode_bmp24(pixels) -> bytes:
    """Minimal BI_RGB 24-bit BMP writer for an (h, w, 3) uint8 array in
    TOP-DOWN row order and BGR channel order. Rows are written bottom-up
    with 4-byte padding, per the format. Test/fixture support for the
    decoder — not an image-processing API."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    stride = (3 * w + 3) // 4 * 4
    rows = bytearray()
    pad = b"\x00" * (stride - 3 * w)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows += arr[y].tobytes() + pad
    pixel_off = 14 + 40
    size = pixel_off + len(rows)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return bytes(header + info + rows)


def decode_bmp24(payload: bytes):
    """REAL decode of an uncompressed 24-bit BMP: parse the file +
    BITMAPINFOHEADER headers (little-endian), honor the pixel-data
    offset, strip per-row 4-byte padding, and flip the bottom-up row
    order (negative height = already top-down). Returns an (h, w, 3)
    uint8 numpy array in BGR channel order. Pure numpy — one of the
    four genuinely-decoded formats in the container (with WAV, PNG and
    baseline JPEG)."""
    import struct

    import numpy as np

    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (hdr={hdr_size}, bpp={bpp}, comp={compression})")
    top_down = h < 0
    h = abs(h)
    stride = (3 * w + 3) // 4 * 4
    data = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=pixel_off)
    rows = data.reshape(h, stride)[:, : 3 * w].reshape(h, w, 3)
    return rows if top_down else rows[::-1]


def _bmp_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batch transformer behind :func:`bmp_features` — module-level so
    the fused synth+decode operator can compose it with the synth
    generator inside ONE Python stage (guide §4: payloads then never
    cross the JVM boundary at all)."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in ("media_id", "width", "height", "n_px",
                               "sum_b", "sum_g", "sum_r", "checksum_r")}
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            img = decode_bmp24(payload)
            h, w, _ = img.shape
            pos = np.arange(h * w, dtype=np.int64).reshape(h, w)
            px = img.astype(np.int64)
            out["media_id"].append(mid)
            out["width"].append(w)
            out["height"].append(h)
            out["n_px"].append(h * w)
            out["sum_b"].append(int(px[:, :, 0].sum()))
            out["sum_g"].append(int(px[:, :, 1].sum()))
            out["sum_r"].append(int(px[:, :, 2].sum()))
            out["checksum_r"].append(int((px[:, :, 2] * pos).sum()))
        yield pd.DataFrame(out)


def bmp_features(df: DataFrame) -> DataFrame:
    """mapInPandas: (media_id, payload) -> decoded BMP statistics with
    EXACT integer aggregates (per-channel int64 pixel sums and a
    position-weighted red checksum over top-down raster order — the
    checksum catches a decoder that forgets the bottom-up flip or the
    row padding, which channel means alone cannot). Division to means
    happens in the calling query so both engines divide the same exact
    integers. Embarrassingly parallel, no shuffle; payloads never leave
    the executor."""
    return map_in_pandas(
        df.select("media_id", "payload"), _bmp_feature_batches, BMP_FEATURE_SCHEMA
    )


def _synth_bmp_batches(
    batches: Iterator[pd.DataFrame], id_col: str = "media_id"
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        ids, payloads = [], []
        for mid in pdf[id_col]:
            mid = int(mid)
            w, h = 4 + mid % 5, 3 + mid % 4
            y, x, c = np.ogrid[0:h, 0:w, 0:3]
            img = ((mid * 31 + y * 7 + x * 3 + c) % 256).astype(np.uint8)
            ids.append(mid)
            payloads.append(encode_bmp24(img))
        yield pd.DataFrame({"media_id": ids, "payload": payloads})


def synth_bmp_media(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic BMP fixture generator AS A DISTRIBUTED OPERATOR:
    for each id, an image of width 4+id%5, height 3+id%4 whose BGR pixel
    at top-down (x, y), channel c is ``(id*31 + y*7 + x*3 + c) % 256`` —
    a closed form a SQL oracle can re-derive. Payload bytes are built
    executor-side per Arrow batch; nothing collects."""
    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _synth_bmp_batches(batches, id_col)

    return map_in_pandas(df.select(F.col(id_col)), run, schema)


def synth_bmp_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Fused synth+decode in ONE Arrow pass: composes the exact batch
    generators behind :func:`synth_bmp_media` and :func:`bmp_features`,
    so results are identical by construction while the encoded payload
    bytes never cross the JVM boundary (the unfused chain ships every
    payload Python->JVM->Python through a second mapInPandas stage —
    guide §4.1/§8: move heavy bytes zero times when only their stats
    leave)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _bmp_feature_batches(_synth_bmp_batches(batches, id_col))

    return map_in_pandas(df.select(F.col(id_col)), run, BMP_FEATURE_SCHEMA)


# -- real decoder #2: RIFF/WAVE PCM16 audio (no codec library needed) --------

WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_abs", LongType()),
        StructField("sum_sq", LongType()),
        StructField("zero_cross", LongType()),
        StructField("checksum", LongType()),
    ]
)


def encode_wav_pcm16(samples, sample_rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE writer: PCM (audio format 1), 16-bit
    little-endian, from an (n,) or (n, channels) int16 array. Emits a
    JUNK chunk before ``fmt`` so decoders must genuinely walk the chunk
    list (real-world WAVs carry LIST/INFO chunks there). Test/fixture
    support for the decoder — not an audio-processing API."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    _n, ch = arr.shape
    data = arr.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * 2 * ch, 2 * ch, 16
    )
    chunks = b"JUNK" + struct.pack("<I", 4) + b"\x00" * 4
    chunks += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    if len(data) & 1:
        chunks += b"\x00"  # RIFF chunks are word-aligned
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav_pcm16(payload: bytes):
    """REAL decode of a RIFF/WAVE PCM16 file: verify the RIFF/WAVE
    magic, WALK the chunk list (word-aligned sizes, unknown chunks like
    JUNK/LIST skipped), parse the ``fmt `` chunk, and view the ``data``
    chunk as little-endian int16 frames. Returns
    ``((n_frames, n_channels) int16 array, sample_rate)``. Pure numpy —
    the second genuinely-decoded format in the container (with BMP);
    compressed codecs (MP3/AAC/FLAC) stay behind the codec-library
    boundary."""
    import struct

    import numpy as np

    if (
        payload is None
        or len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WAVE"
    ):
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = bytes(payload[pos : pos + 4])
        sz = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, rate, _brate, _balign, bits = struct.unpack_from(
        "<HHIIHH", fmt, 0
    )
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV (format={audio_format}, bits={bits}); "
            "compressed audio stays behind the codec-library boundary"
        )
    arr = np.frombuffer(data, dtype="<i2")
    return arr.reshape(-1, ch), int(rate)


def _wav_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batch transformer behind :func:`wav_features` — module-level so the
    fused synth+decode operator can compose it with the synth generator
    inside ONE Python stage (guide §4/§8)."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "media_id", "sample_rate", "n_channels", "n_samples",
            "sum_abs", "sum_sq", "zero_cross", "checksum",
        )}
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            frames, rate = decode_wav_pcm16(payload)
            s = frames[:, 0].astype(np.int64)
            nonneg = s >= 0
            out["media_id"].append(mid)
            out["sample_rate"].append(rate)
            out["n_channels"].append(frames.shape[1])
            out["n_samples"].append(frames.shape[0])
            out["sum_abs"].append(int(np.abs(s).sum()))
            out["sum_sq"].append(int((s * s).sum()))
            out["zero_cross"].append(int((nonneg[1:] != nonneg[:-1]).sum()))
            out["checksum"].append(
                int((s * (np.arange(len(s), dtype=np.int64) % 97 + 1)).sum())
            )
        yield pd.DataFrame(out)


def wav_features(df: DataFrame) -> DataFrame:
    """mapInPandas: (media_id, payload) -> decoded WAV statistics with
    EXACT integer aggregates over channel 0 (|sample| sum, energy as
    sum of squares, zero crossings on the >=0 sign, and a
    position-weighted checksum ``sum(s_i * (i % 97 + 1))`` that catches
    a decoder with wrong sample order, byte order, or chunk offsets —
    means alone cannot). Embarrassingly parallel, no shuffle; payloads
    never leave the executor."""
    return map_in_pandas(
        df.select("media_id", "payload"), _wav_feature_batches, WAV_FEATURE_SCHEMA
    )


def _synth_wav_batches(
    batches: Iterator[pd.DataFrame], id_col: str = "media_id"
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        ids, payloads = [], []
        for mid in pdf[id_col]:
            mid = int(mid)
            n = 50 + mid % 64
            i = np.arange(n, dtype=np.int64)
            s = ((mid * 37 + i * 13) % 4001 - 2000).astype(np.int16)
            ids.append(mid)
            payloads.append(
                encode_wav_pcm16(s, sample_rate=8000 + (mid % 3) * 4000)
            )
        yield pd.DataFrame({"media_id": ids, "payload": payloads})


def synth_wav_media(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic WAV fixture generator AS A DISTRIBUTED OPERATOR:
    for each id, a mono PCM16 clip of ``50 + id % 64`` samples at
    ``8000 + (id % 3) * 4000`` Hz whose sample ``i`` is
    ``(id*37 + i*13) % 4001 - 2000`` — a closed form a SQL oracle can
    re-derive. Payload bytes are built executor-side per Arrow batch;
    nothing collects."""
    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _synth_wav_batches(batches, id_col)

    return map_in_pandas(df.select(F.col(id_col)), run, schema)


def synth_wav_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Fused synth+decode in ONE Arrow pass: composes the exact batch
    generators behind :func:`synth_wav_media` and :func:`wav_features`,
    so results are identical by construction while the encoded payload
    bytes never cross the JVM boundary (guide §4.1/§8)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _wav_feature_batches(_synth_wav_batches(batches, id_col))

    return map_in_pandas(df.select(F.col(id_col)), run, WAV_FEATURE_SCHEMA)



# -- real decoder #3: PNG, non-interlaced 8-bit RGB/RGBA (stdlib zlib) --------

PNG_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_px", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("sum_a", LongType()),
        StructField("checksum_g", LongType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(left: int, up: int, ul: int) -> int:
    p = left + up - ul
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
    if pa <= pb and pa <= pc:
        return left
    return up if pb <= pc else ul


def encode_png(pixels) -> bytes:
    """Minimal PNG writer for an (h, w, 3|4) uint8 array: 8-bit
    truecolor (color type 2) / truecolor+alpha (6), non-interlaced.
    Row ``y`` uses filter type ``y % 5`` so every defilter path (none /
    sub / up / average / paeth) is exercised by any image taller than 4
    rows; the compressed stream is split across TWO IDAT chunks and a
    tEXt ancillary chunk precedes them, so the decoder's chunk walk and
    IDAT concatenation are exercised too. Test/fixture support for the
    decoder — not an image-processing API."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = arr.shape
    if ch not in (3, 4):
        raise ValueError(f"encode_png needs 3 or 4 channels, got {ch}")
    stride = w * ch
    flat = arr.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        ft = y % 5
        line = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, np.int32)
        if ft == 0:
            out = line.copy()
        elif ft == 2:
            out = (line - prev) % 256
        else:
            out = np.zeros(stride, np.int32)
            for x in range(stride):
                left = int(line[x - ch]) if x >= ch else 0
                up = int(prev[x])
                ul = int(prev[x - ch]) if x >= ch else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                out[x] = (int(line[x]) - pred) % 256
        raw.append(ft)
        raw += out.astype(np.uint8).tobytes()
    comp = zlib.compress(bytes(raw), 6)
    half = max(1, len(comp) // 2)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 6, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Comment\x00pos_dlt_spark fixture")
        + _png_chunk(b"IDAT", comp[:half])
        + _png_chunk(b"IDAT", comp[half:])
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes):
    """REAL decode of a non-interlaced 8-bit truecolor PNG (color type 2
    or 6) with nothing but stdlib ``zlib`` + numpy: verify the
    signature, walk the chunk list (CRC-checking every chunk, skipping
    ancillary ones), parse IHDR, concatenate ALL IDAT payloads, inflate,
    and undo the per-scanline filters (none/sub/up/average/paeth — the
    paeth predictor per the PNG spec, PNG being public W3C format
    documentation). Returns an (h, w, 3|4) uint8 array in RGB(A) channel
    order. Genuinely decoded in-container alongside BMP, WAV and
    baseline JPEG; palette/interlaced/16-bit PNG stays behind the
    codec-library boundary."""
    import struct
    import zlib

    import numpy as np

    if payload is None or len(payload) < 8 or bytes(payload[:8]) != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    saw_idat = False
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = bytes(payload[pos + 4 : pos + 8])
        data = bytes(payload[pos + 8 : pos + 8 + length])
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            saw_idat = True
            idat += data
        elif ctype == b"IEND":
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped by the walk
    if ihdr is None or not saw_idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in (2, 6) or comp or filt or interlace:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={color}, "
            f"interlace={interlace}); only non-interlaced 8-bit RGB/RGBA "
            "decodes without a codec library"
        )
    ch = 3 if color == 2 else 4
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload has the wrong size")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:
            cur = (line + prev) % 256
        elif ft in (1, 3, 4):
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                up = int(prev[x])
                ul = int(prev[x - ch]) if x >= ch else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                cur[x] = (int(line[x]) + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
    return out.reshape(h, w, ch)


def _png_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batch transformer behind :func:`png_features` — module-level so the
    fused synth+decode operator can compose it with the synth generator
    inside ONE Python stage (guide §4/§8)."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "media_id", "width", "height", "channels", "n_px",
            "sum_r", "sum_g", "sum_b", "sum_a", "checksum_g",
        )}
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            img = decode_png(payload)
            h, w, ch = img.shape
            px = img.astype(np.int64)
            pos = np.arange(h * w, dtype=np.int64).reshape(h, w)
            out["media_id"].append(mid)
            out["width"].append(w)
            out["height"].append(h)
            out["channels"].append(ch)
            out["n_px"].append(h * w)
            out["sum_r"].append(int(px[:, :, 0].sum()))
            out["sum_g"].append(int(px[:, :, 1].sum()))
            out["sum_b"].append(int(px[:, :, 2].sum()))
            out["sum_a"].append(
                int(px[:, :, 3].sum()) if ch == 4 else 0
            )
            out["checksum_g"].append(int((px[:, :, 1] * pos).sum()))
        yield pd.DataFrame(out)


def png_features(df: DataFrame) -> DataFrame:
    """mapInPandas: (media_id, payload) -> decoded PNG statistics with
    EXACT integer aggregates (per-channel int64 sums, alpha sum 0 for
    RGB, and a position-weighted green checksum over raster order — it
    catches a decoder whose defilter or chunk concatenation is off by
    anything, which channel means alone cannot). Embarrassingly
    parallel, no shuffle; payloads never leave the executor."""
    return map_in_pandas(
        df.select("media_id", "payload"), _png_feature_batches, PNG_FEATURE_SCHEMA
    )


def _synth_png_batches(
    batches: Iterator[pd.DataFrame], id_col: str = "media_id"
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        ids, payloads = [], []
        for mid in pdf[id_col]:
            mid = int(mid)
            w, h, ch = 4 + mid % 5, 5 + mid % 4, 3 + mid % 2
            y, x, c = np.ogrid[0:h, 0:w, 0:ch]
            img = ((mid * 41 + y * 9 + x * 5 + c * 17) % 256).astype(np.uint8)
            ids.append(mid)
            payloads.append(encode_png(img))
        yield pd.DataFrame({"media_id": ids, "payload": payloads})


def synth_png_media(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic PNG fixture generator AS A DISTRIBUTED OPERATOR:
    for each id, an RGB (even id) or RGBA (odd id) image of width
    ``4 + id % 5``, height ``5 + id % 4`` (always >= 5 rows, so every
    filter type 0-4 appears) whose pixel at (x, y), channel c is
    ``(id*41 + y*9 + x*5 + c*17) % 256`` — a closed form a SQL oracle
    can re-derive. Payload bytes are built executor-side per Arrow
    batch; nothing collects."""
    schema = StructType(
        [StructField("media_id", LongType()), StructField("payload", BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _synth_png_batches(batches, id_col)

    return map_in_pandas(df.select(F.col(id_col)), run, schema)


def synth_png_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Fused synth+decode in ONE Arrow pass: composes the exact batch
    generators behind :func:`synth_png_media` and :func:`png_features`,
    so results are identical by construction while the encoded payload
    bytes never cross the JVM boundary (guide §4.1/§8)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _png_feature_batches(_synth_png_batches(batches, id_col))

    return map_in_pandas(df.select(F.col(id_col)), run, PNG_FEATURE_SCHEMA)


# -- real decoder #4: baseline sequential JPEG (ITU T.81, stdlib+numpy) ------
#
# The fourth dependency-free codec: SOI/DQT/DHT/SOF0/DRI/SOS marker walk,
# canonical Huffman entropy decode (with byte unstuffing and restart
# markers), dequantization, inverse zigzag, floating 8x8 IDCT, level
# shift, chroma upsampling and YCbCr->RGB for 3-component scans.
# Baseline SEQUENTIAL only — progressive (SOF2), arithmetic coding, and
# 12-bit precision stay behind the codec-library boundary and raise
# loudly. All constants below (zigzag order, Annex K quantization and
# Huffman tables) are from the public ITU T.81 / JFIF specifications.

_ZIGZAG = [
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1 example quantization tables (the de-facto standard ones)
_STD_LUMA_Q = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_STD_CHROMA_Q = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 typical Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list)
_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

_DCT_T = None  # cached 8x8 DCT-II basis matrix


def _dct_matrix():
    import numpy as np

    global _DCT_T
    if _DCT_T is None:
        x = np.arange(8)
        u = x.reshape(-1, 1)
        t = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
        t[0, :] /= np.sqrt(2)
        _DCT_T = t
    return _DCT_T


def _huff_encode_table(bits, vals):
    """symbol -> (code, length) for a canonical JPEG Huffman table."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# LRU-bounded: each entry is a 65,536-int Python list (~2 MB) and real-
# world JPEGs may carry per-image optimized tables, so an unbounded
# keyed-by-content cache would leak ~MB per distinct image on a
# long-lived worker. 16 entries cover the 4 Annex K tables plus a
# rotation of custom ones (~32 MB ceiling).
_HUFF_LUT_CACHE: OrderedDict = OrderedDict()
_HUFF_LUT_MAX = 16


def _huff_lut(bits, vals) -> list:
    """16-bit-peek Huffman decode table: ``lut[window16] = length<<16 | sym``
    (0 = no code matches, an invalid stream). One list index replaces up
    to 16 bit-at-a-time reads + dict probes per symbol; LRU-cached by
    table content (a plain list, not numpy: per-symbol indexing of
    Python ints is the decode hot path) — the standard Annex K tables
    repeat across every image."""
    import numpy as np

    key = (bytes(bits), bytes(vals))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is None:
        arr = np.zeros(1 << 16, np.uint32)
        code = 0
        k = 0
        for length in range(1, 17):
            shift = 16 - length
            for _ in range(bits[length - 1]):
                arr[code << shift : (code + 1) << shift] = (length << 16) | vals[k]
                code += 1
                k += 1
            code <<= 1
        lut = arr.tolist()
        _HUFF_LUT_CACHE[key] = lut
        if len(_HUFF_LUT_CACHE) > _HUFF_LUT_MAX:
            _HUFF_LUT_CACHE.popitem(last=False)
    else:
        _HUFF_LUT_CACHE.move_to_end(key)
    return lut


def _entropy_segments(data: bytes, start: int) -> list:
    """Split an entropy-coded scan into RST-delimited segments with FF00
    byte-stuffing removed: ``[(seg_bytes, end_pos), ...]`` where end_pos
    is the offset of the marker byte that terminated the segment — the
    exact position the bit-at-a-time reader stopped at (it never consumes
    a real marker). The final segment ends at the first non-RST marker
    (or EOF for a truncated stream)."""
    segs: list = []
    chunks: list = []
    i = seg_start = start
    n = len(data)
    while True:
        j = data.find(b"\xff", i)
        if j < 0:
            chunks.append(data[seg_start:n])
            segs.append((b"".join(chunks), n))
            break
        nxt = data[j + 1] if j + 1 < n else None
        if nxt == 0x00:
            chunks.append(data[seg_start : j + 1])  # keep the FF, drop stuffing
            seg_start = i = j + 2
        elif nxt is not None and 0xD0 <= nxt <= 0xD7:
            chunks.append(data[seg_start:j])
            segs.append((b"".join(chunks), j))
            chunks = []
            seg_start = i = j + 2
        else:
            chunks.append(data[seg_start:j])
            segs.append((b"".join(chunks), j))
            break
    return segs


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (the spec's fill bits)."""
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _bit_size(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _scale_quant(base, quality: int):
    """IJG-style quality scaling of an Annex K table (public libjpeg
    convention): 1..100, 50 = the base table, clamped to [1, 255]."""
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return [max(1, min(255, (b * scale + 50) // 100)) for b in base]


def encode_jpeg(
    pixels,
    quality: int = 90,
    subsample: str = "444",
    quant=None,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG writer for an (h, w) grayscale or
    (h, w, 3) RGB uint8 array — fixture support for :func:`decode_jpeg`,
    not an image-processing API. ``subsample='420'`` writes 2x2-
    subsampled chroma (box mean); ``quant`` overrides the (quality-
    scaled Annex K) luma table with an explicit 64-entry list — the
    exactness gate uses an all-8 table so per-block-constant images
    round-trip bit-exactly (a constant block is DC-only; DC = 8*(v-128)
    is divisible by 8, so quantization is lossless and the IDCT of a
    DC-only block is exactly constant). ``restart_interval`` emits DRI +
    RSTn markers every N MCUs."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    gray = arr.ndim == 2
    if not gray and (arr.ndim != 3 or arr.shape[2] != 3):
        raise ValueError("encode_jpeg needs (h,w) gray or (h,w,3) RGB")
    h, w = arr.shape[:2]
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be 444 or 420")

    qluma = list(quant) if quant is not None else _scale_quant(_STD_LUMA_Q, quality)
    qchroma = (
        list(quant) if quant is not None else _scale_quant(_STD_CHROMA_Q, quality)
    )

    if gray:
        planes = [arr.astype(np.float64)]
        samp = [(1, 1)]
        qsel = [0]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            # box-mean 2x2 after replicate-padding to even dims
            def down(p):
                ph = p if p.shape[0] % 2 == 0 else np.vstack([p, p[-1:]])
                ph = ph if ph.shape[1] % 2 == 0 else np.hstack([ph, ph[:, -1:]])
                return (
                    ph[0::2, 0::2] + ph[1::2, 0::2] + ph[0::2, 1::2] + ph[1::2, 1::2]
                ) / 4.0

            planes = [y, down(cb), down(cr)]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samp = [(1, 1), (1, 1), (1, 1)]
        qsel = [0, 1, 1]

    hmax = max(sx for sx, _ in samp)
    vmax = max(sy for _, sy in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # pad every plane to its MCU-covered size by edge replication
    padded = []
    for p, (sx, sy) in zip(planes, samp):
        tw, th = mcus_x * 8 * sx, mcus_y * 8 * sy
        ph, pw = p.shape
        p2 = np.pad(p, ((0, th - ph), (0, tw - pw)), mode="edge")
        padded.append(p2)

    t = _dct_matrix()
    enc_dc = [_huff_encode_table(*_STD_DC_LUMA), _huff_encode_table(*_STD_DC_CHROMA)]
    enc_ac = [_huff_encode_table(*_STD_AC_LUMA), _huff_encode_table(*_STD_AC_CHROMA)]
    qtabs = [np.array(qluma, np.float64), np.array(qchroma, np.float64)]

    bw = _BitWriter()
    preds = [0] * len(planes)
    mcu_count = 0
    rst = 0
    out_chunks: list[bytes] = []

    # Batched DCT -> quantize -> zigzag per component (ONE matmul stack
    # and one rint/gather for the whole plane instead of per-block numpy
    # calls); zigzag rows convert to plain-int lists so the Huffman emit
    # below runs on Python ints, not numpy scalars. Bit-identical: the
    # same 8x8 dgemm, divide, rint and gather per block.
    plane_zz = []
    for p2, qi in zip(padded, qsel):
        nby, nbx = p2.shape[0] // 8, p2.shape[1] // 8
        bg = p2.reshape(nby, 8, nbx, 8).swapaxes(1, 2) - 128.0
        f = t @ bg @ t.T
        qa = qtabs[qi].reshape(8, 8)
        zz = np.rint(f / qa).astype(np.int64).reshape(nby, nbx, 64)[:, :, _ZIGZAG]
        plane_zz.append(zz.tolist())

    def emit_block(ci: int, zzl: list) -> None:
        hsel = 0 if qsel[ci] == 0 else 1
        dct, act = enc_dc[hsel], enc_ac[hsel]
        diff = zzl[0] - preds[ci]
        preds[ci] = zzl[0]
        s = _bit_size(diff)
        code, ln = dct[s]
        bw.put(code, ln)
        if s:
            bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            v = zzl[k]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = act[0xF0]  # ZRL
                bw.put(code, ln)
                run -= 16
            s = _bit_size(v)
            code, ln = act[(run << 4) | s]
            bw.put(code, ln)
            bw.put(v if v > 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            code, ln = act[0x00]  # EOB
            bw.put(code, ln)

    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.align()
                out_chunks.append(bytes(bw.buf))
                bw.buf = bytearray()
                out_chunks.append(struct.pack(">H", 0xFFD0 + rst))
                rst = (rst + 1) % 8
                preds = [0] * len(planes)
            for ci, (zzp, (sx, sy)) in enumerate(zip(plane_zz, samp)):
                for by in range(sy):
                    for bx in range(sx):
                        emit_block(ci, zzp[my * sy + by][mx * sx + bx])
            mcu_count += 1
    bw.align()
    out_chunks.append(bytes(bw.buf))

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    parts = [struct.pack(">H", 0xFFD8)]  # SOI
    dqt = bytes([0]) + bytes(int(qluma[z]) for z in _ZIGZAG)
    if not gray:
        dqt += bytes([1]) + bytes(int(qchroma[z]) for z in _ZIGZAG)
    parts.append(seg(0xFFDB, dqt))
    comps = b""
    for ci, (sx, sy) in enumerate(samp):
        comps += bytes([ci + 1, (sx << 4) | sy, qsel[ci]])
    parts.append(
        seg(0xFFC0, struct.pack(">BHHB", 8, h, w, len(planes)) + comps)
    )
    dht = (
        bytes([0x00]) + bytes(_STD_DC_LUMA[0]) + bytes(_STD_DC_LUMA[1])
        + bytes([0x10]) + bytes(_STD_AC_LUMA[0]) + bytes(_STD_AC_LUMA[1])
    )
    if not gray:
        dht += (
            bytes([0x01]) + bytes(_STD_DC_CHROMA[0]) + bytes(_STD_DC_CHROMA[1])
            + bytes([0x11]) + bytes(_STD_AC_CHROMA[0]) + bytes(_STD_AC_CHROMA[1])
        )
    parts.append(seg(0xFFC4, dht))
    if restart_interval:
        parts.append(seg(0xFFDD, struct.pack(">H", restart_interval)))
    scomps = b""
    for ci in range(len(planes)):
        hsel = 0 if qsel[ci] == 0 else 1
        scomps += bytes([ci + 1, (hsel << 4) | hsel])
    parts.append(
        seg(0xFFDA, bytes([len(planes)]) + scomps + bytes([0, 63, 0]))
    )
    parts.extend(out_chunks)
    parts.append(struct.pack(">H", 0xFFD9))  # EOI
    return b"".join(parts)


def decode_jpeg(payload: bytes):
    """REAL decode of a baseline sequential JPEG (SOF0) with stdlib +
    numpy only: marker walk, DQT/DHT/DRI/SOS parse, canonical Huffman
    entropy decode with byte unstuffing and RSTn handling, dequantize,
    inverse zigzag, floating 8x8 IDCT, level shift, nearest-neighbor
    chroma upsampling and BT.601 YCbCr->RGB for 3-component images.
    Returns an (h, w) uint8 array for grayscale or (h, w, 3) RGB.
    Progressive (SOF2) / arithmetic / 12-bit JPEGs raise loudly — that
    is the remaining codec-library boundary."""
    import struct

    import numpy as np

    data = bytes(payload or b"")
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtabs: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], tuple] = {}  # (class, id) -> (bits, vals)
    frame = None  # (h, w, [(cid, sx, sy, qsel), ...])
    restart_interval = 0
    out_planes = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"marker expected at offset {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if 0xD0 <= marker <= 0xD7:
            continue  # stray RST outside a scan
        (ln,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + ln]
        if marker == 0xDB:  # DQT
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                o += 1
                if pq:
                    vals = struct.unpack_from(f">{64}H", body, o)
                    o += 128
                else:
                    vals = body[o : o + 64]
                    o += 64
                tab = np.zeros(64, np.float64)
                for i, z in enumerate(_ZIGZAG):
                    tab[z] = vals[i]
                qtabs[tq] = tab.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                bits = list(body[o + 1 : o + 17])
                n = sum(bits)
                vals = list(body[o + 17 : o + 17 + n])
                huff[(tc, th)] = (bits, vals)  # LUT built (cached) at SOS
                o += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 (baseline DCT)
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit precision JPEG is supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (fh, fw, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "progressive/extended/arithmetic JPEG is not supported by "
                "this baseline decoder (codec-library boundary)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            fh, fw, comps = frame
            ns = body[0]
            sel = {}
            for i in range(ns):
                cs, tt = body[1 + 2 * i : 3 + 2 * i]
                sel[cs] = (tt >> 4, tt & 0xF)
            hmax = max(sx for _, sx, _, _ in comps)
            vmax = max(sy for _, _, sy, _ in comps)
            mcus_x = -(-fw // (8 * hmax))
            mcus_y = -(-fh // (8 * vmax))
            t = _dct_matrix()
            # Entropy decode with a 16-bit-peek LUT over pre-unstuffed,
            # RST-split segments (one list index per symbol instead of up
            # to 16 bit()+dict probes); coefficients land in ONE
            # (n_blocks, 64) int64 array so dequantize, inverse zigzag and
            # the IDCT run as a single batched matmul per component
            # instead of per-block numpy calls.
            n_per_mcu = sum(sx * sy for _, sx, sy, _ in comps)
            n_mcus = mcus_x * mcus_y
            coefs = np.zeros((n_mcus * n_per_mcu, 64), np.int64)
            # per-MCU block slots in scan order: (comp index, DC lut, AC lut)
            slots = []
            for ci, (cid, sx, sy, tq) in enumerate(comps):
                dc_t, ac_t = sel[cid]
                dlut = _huff_lut(*huff[(0, dc_t)])
                alut = _huff_lut(*huff[(1, ac_t)])
                slots.extend([(ci, dlut, alut)] * (sx * sy))
            segs = _entropy_segments(data, pos + ln)
            seg_idx = 0
            buf, end_pos = segs[0]
            bp = 0
            # bits the segment REALLY had (buf gets zero-extended below so
            # past-the-end reads decode as 0 — the canonical all-zeros
            # Huffman code matches zero padding, so truncation decodes
            # silently; consuming past this bound is how we detect it)
            real_bits = len(buf) * 8
            overrun = False
            preds = [0] * len(comps)
            bi = 0
            for mcu_count in range(n_mcus):
                if (
                    restart_interval
                    and mcu_count
                    and mcu_count % restart_interval == 0
                ):
                    overrun = overrun or bp > real_bits
                    seg_idx += 1
                    if seg_idx < len(segs):
                        buf, end_pos = segs[seg_idx]
                    else:
                        buf = b""  # truncated: reads decode as 0 bits
                    bp = 0
                    real_bits = len(buf) * 8
                    preds = [0] * len(comps)
                for ci, dlut, alut in slots:
                    row = coefs[bi]
                    byte = bp >> 3
                    if byte + 3 > len(buf):
                        buf = buf + b"\x00" * 64  # past-the-end bits read as 0
                    e = dlut[
                        (int.from_bytes(buf[byte : byte + 3], "big") >> (8 - (bp & 7)))
                        & 0xFFFF
                    ]
                    if e == 0:
                        raise ValueError("invalid JPEG Huffman code")
                    bp += e >> 16
                    s = e & 0xFFFF
                    if s:
                        byte = bp >> 3
                        if byte + 3 > len(buf):
                            buf = buf + b"\x00" * 64
                        v = (
                            int.from_bytes(buf[byte : byte + 3], "big")
                            >> (24 - (bp & 7) - s)
                        ) & ((1 << s) - 1)
                        bp += s
                        if v < (1 << (s - 1)):
                            v -= (1 << s) - 1
                        preds[ci] += v
                    row[0] = preds[ci]
                    k = 1
                    while k < 64:
                        byte = bp >> 3
                        if byte + 3 > len(buf):
                            buf = buf + b"\x00" * 64
                        e = alut[
                            (
                                int.from_bytes(buf[byte : byte + 3], "big")
                                >> (8 - (bp & 7))
                            )
                            & 0xFFFF
                        ]
                        if e == 0:
                            raise ValueError("invalid JPEG Huffman code")
                        bp += e >> 16
                        rs = e & 0xFFFF
                        if rs == 0x00:  # EOB
                            break
                        if rs == 0xF0:  # ZRL
                            k += 16
                            continue
                        k += rs >> 4
                        s = rs & 0xF
                        byte = bp >> 3
                        if byte + 3 > len(buf):
                            buf = buf + b"\x00" * 64
                        v = (
                            int.from_bytes(buf[byte : byte + 3], "big")
                            >> (24 - (bp & 7) - s)
                        ) & ((1 << s) - 1)
                        bp += s
                        if v < (1 << (s - 1)):
                            v -= (1 << s) - 1
                        if k > 63:
                            raise ValueError("AC index overflow")
                        row[k] = v
                        k += 1
                    bi += 1
            if overrun or bp > real_bits:
                # loud-but-non-fatal: corrupt/truncated scans decode to
                # garbage-zero pixels where the old bit reader stopped;
                # surface that instead of silently returning them
                import warnings

                warnings.warn(
                    "truncated JPEG entropy stream: past-the-end bits decoded as 0",
                    stacklevel=2,
                )
            planes = []
            mi = np.arange(n_mcus)
            myv, mxv = mi // mcus_x, mi % mcus_x
            for ci, (cid, sx, sy, tq) in enumerate(comps):
                qa = qtabs[tq]
                off = sum(c[1] * c[2] for c in comps[:ci])
                byv, bxv = np.divmod(np.arange(sy * sx), sx)
                biv = (mi[:, None] * n_per_mcu + off + np.arange(sy * sx)[None, :]).ravel()
                c64 = np.zeros((len(biv), 64), np.float64)
                c64[:, _ZIGZAG] = coefs[biv]
                blocks = t.T @ (c64.reshape(-1, 8, 8) * qa) @ t + 128.0
                plane = np.empty((mcus_y * 8 * sy, mcus_x * 8 * sx), np.float64)
                pv = plane.reshape(mcus_y * sy, 8, mcus_x * sx, 8).swapaxes(1, 2)
                pv[
                    (myv[:, None] * sy + byv[None, :]).ravel(),
                    (mxv[:, None] * sx + bxv[None, :]).ravel(),
                ] = blocks
                planes.append(plane)
            # upsample to full frame resolution (nearest) and crop
            full = []
            for p, (_, sx, sy, _) in zip(planes, comps):
                rx, ry = hmax // sx, vmax // sy
                if rx > 1 or ry > 1:
                    p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
                full.append(p[:fh, :fw])
            out_planes = full
            pos = end_pos
            continue
        pos += ln
    if out_planes is None:
        raise ValueError("no scan decoded (missing SOS)")
    if len(out_planes) == 1:
        return np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


JPEG_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_px", LongType()),
        StructField("mean_px", DoubleType()),
        StructField("checksum", LongType()),
    ]
)


def _jpeg_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Batch transformer behind :func:`jpeg_features` — module-level so
    the fused synth+decode operator can compose it with the synth
    generator inside ONE Python stage (guide §4: payloads then never
    cross the JVM boundary at all)."""
    import numpy as np

    for pdf in batches:
        rows = []
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            px = decode_jpeg(payload)
            hh, ww = px.shape[:2]
            flat = px.astype(np.int64)
            idx = np.arange(hh * ww).reshape(hh, ww)
            rows.append(
                (
                    int(mid),
                    int(ww),
                    int(hh),
                    int(hh * ww),
                    float(flat.mean()),
                    int((flat * idx).sum()),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "media_id", "width", "height", "n_px", "mean_px", "checksum",
            ],
        )


def jpeg_features(df: DataFrame) -> DataFrame:
    """mapInPandas operator: (media_id, payload) -> real grayscale-JPEG
    decode features (dims, mean pixel, position-weighted checksum) —
    Arrow-batched, embarrassingly parallel, payloads never reach the
    driver."""
    return map_in_pandas(
        df.select("media_id", "payload"), _jpeg_feature_batches, JPEG_FEATURE_SCHEMA
    )


def _synth_jpeg_batches(
    batches: Iterator[pd.DataFrame], id_col: str = "media_id"
) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        out = []
        for mid in pdf[id_col]:
            mid = int(mid)
            w = 16 + (mid % 3) * 8 + mid % 5
            h = 16 + (mid % 2) * 8 + mid % 7
            by, bx = np.meshgrid(
                np.arange(-(-h // 8)), np.arange(-(-w // 8)), indexing="ij"
            )
            blocks = (mid * 37 + by * 11 + bx * 7) % 256
            px = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)[
                :h, :w
            ].astype(np.uint8)
            out.append(
                (
                    mid,
                    encode_jpeg(
                        px,
                        quant=[8] * 64,
                        restart_interval=2 if mid % 3 == 0 else 0,
                    ),
                )
            )
        yield pd.DataFrame(out, columns=["media_id", "payload"])


def synth_jpeg_features(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Fused synth+decode in ONE Arrow pass: composes the exact batch
    generators behind :func:`synth_jpeg_media` and :func:`jpeg_features`,
    so results are identical by construction while the encoded payload
    bytes never cross the JVM boundary. Beyond the byte-shipping saved,
    the unfused chain runs TWO concurrent mapInPandas stages, demanding
    2x cores of Python workers — on a warm 1x pool the second stage
    cold-spawns a full worker set (fork + interpreter + numpy import per
    worker) every bench pass; the fused single stage reuses the warm
    pool (observed 0.96 s isolated vs 3.6-9.0 s in-bench for the
    two-stage shape, with the sampler showing fresh worker PIDs and a
    lone cold straggler)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _jpeg_feature_batches(_synth_jpeg_batches(batches, id_col))

    return map_in_pandas(
        df.select(F.col(id_col).cast("long").alias(id_col)), run, JPEG_FEATURE_SCHEMA
    )


def synth_jpeg_media(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Deterministic grayscale baseline JPEGs synthesized EXECUTOR-side:
    per-8x8-block-constant pixels (value ``(id*37 + by*11 + bx*7) % 256``)
    with an all-8 quantization table — a constant block is DC-only and
    ``8*(v-128)`` is divisible by 8, so quantization is exact and
    decode returns every pixel bit-exactly (the closed form the gate's
    SQL oracle re-derives). Dims ``w = 16 + (id%3)*8 + id%5`` /
    ``h = 16 + (id%2)*8 + id%7`` exercise partial edge MCUs (edge
    replication keeps edge blocks constant); every third image uses a
    restart interval so DRI/RSTn paths run under the oracle too."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _synth_jpeg_batches(batches, id_col)

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    return map_in_pandas(
        df.select(F.col(id_col).cast("long").alias(id_col)), run, schema
    )


def frame_sample_stub(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling operator shape: emits (media_id, frame_ts_ms)
    rows from duration metadata — the real frame extraction plugs into the
    codec layer; the row-multiplication plumbing (sequence + explode) is
    real and runs at scale."""
    return df.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("meta.duration_ms"), F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
