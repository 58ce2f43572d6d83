"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Design (SURVEY §7.6 / task brief): media travels as a ``binary`` column with
a metadata struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched Pandas UDFs over ``mapInPandas`` so each executor processes
whole record batches (the only sane shape at 100 TB: media bytes never hit
the driver, work is partition-parallel, Python cost is amortized per batch).

PNG is decoded/encoded FOR REAL with zero image libraries (zlib is stdlib):
chunk walk, IDAT inflate, per-scanline unfiltering incl. Paeth, nearest-
neighbor resample, re-encode with CRCs -- so ``resize_images`` produces
actual pixel output executor-side. JPEG is now decoded/encoded FOR REAL
too (jpeg_codec.py: baseline sequential DCT, table-driven Huffman entropy
decode, numpy IDCT -- 4:4:4 / grayscale, no subsampling or progressive,
rejected loudly); payloads neither codec accepts pass through
``resize_images`` unchanged, flagged in ``meta_format``.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pgsf_spark.analytics.jpeg_codec import decode_jpeg, encode_jpeg
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), True),  # image | audio | video
        StructField("content", BinaryType(), True),
        StructField("meta_format", StringType(), True),
        StructField("meta_width", IntegerType(), True),
        StructField("meta_height", IntegerType(), True),
        StructField("meta_bytes", LongType(), True),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# colortype -> samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}
_PNG_COLORTYPE = {1: 0, 3: 2, 4: 6}


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: bytes, width: int, height: int, channels: int = 3) -> bytes:
    """Minimal REAL PNG encoder: 8-bit gray/RGB/RGBA, filter 0 scanlines,
    one zlib IDAT, correct CRCs. Any standards-compliant viewer decodes the
    output; round-trips through :func:`decode_png`."""
    if channels not in _PNG_COLORTYPE:
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, _PNG_COLORTYPE[channels], 0, 0, 0)
    stride = width * channels
    raw = b"".join(
        b"\x00" + bytes(pixels[y * stride : (y + 1) * stride]) for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(content: bytes) -> tuple[int, int, int, bytearray]:
    """Real PNG pixel decode, stdlib only: chunk walk, concatenated-IDAT
    inflate, scanline unfiltering for all 5 filter types (None/Sub/Up/
    Average/Paeth). Supports 8-bit gray/RGB/RGBA, non-interlaced -- the
    shapes synthetic pipelines and most web PNGs use. Returns
    (width, height, channels, pixels) with pixels row-major packed."""
    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    i, n = 8, len(content)
    width = height = None
    idat = bytearray()
    channels = 0
    while i + 8 <= n:
        (length,) = struct.unpack(">I", content[i : i + 4])
        tag = content[i + 4 : i + 8]
        data = content[i + 8 : i + 8 + length]
        if tag == b"IHDR":
            width, height, depth, colortype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or colortype not in _PNG_CHANNELS or interlace:
                raise ValueError(
                    f"unsupported PNG shape (depth={depth}, colortype={colortype}, interlace={interlace})"
                )
            channels = _PNG_CHANNELS[colortype]
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        i += 12 + length  # len + tag + data + crc
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("IDAT does not match dimensions")
    out = bytearray(stride * height)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for x in range(channels, stride):
                line[x] = (line[x] + line[x - channels]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - channels] if x >= channels else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = line[x - channels] if x >= channels else 0
                ul = prev[x - channels] if x >= channels else 0
                line[x] = (line[x] + _paeth(left, prev[x], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return (width, height, channels, out)


def resample_nearest(
    pixels, width: int, height: int, channels: int, target_w: int, target_h: int
) -> bytearray:
    """Nearest-neighbor resample of a packed row-major pixel buffer."""
    out = bytearray(target_w * target_h * channels)
    for ty in range(target_h):
        sy = ty * height // target_h
        src_row = sy * width
        dst_row = ty * target_w
        for tx in range(target_w):
            si = (src_row + tx * width // target_w) * channels
            di = (dst_row + tx) * channels
            out[di : di + channels] = pixels[si : si + channels]
    return out


def make_synthetic_png(width: int, height: int) -> bytes:
    """Deterministic REAL PNG: gradient-patterned RGB pixels, valid IDAT and
    CRCs -- decodable by decode_png and any standard viewer."""
    stride = width * 3
    pattern = bytes(range(256)) * (stride // 256 + 2)
    pixels = b"".join(pattern[y % 256 : y % 256 + stride] for y in range(height))
    return encode_png(pixels, width, height, 3)


def make_synthetic_jpeg(width: int, height: int) -> bytes:
    """Deterministic JPEG-shaped payload: SOI, an APP0 segment, a baseline
    SOF0 frame header carrying the dimensions, EOI -- the real marker
    structure a codec would emit."""
    soi = b"\xff\xd8"
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    # SOF0: len(8+3*ncomp=17 for 3 components), precision, height, width, ncomp
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3) + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    return soi + app0 + sof0 + b"\xff\xd9"


# SOF markers carry frame dimensions: C0-CF except DHT (C4), JPG (C8), DAC (CC)
_JPEG_SOF_MARKERS = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}


def jpeg_dimensions(content: bytes) -> tuple[int, int]:
    """Scan JPEG marker segments for the SOF frame header and return
    (width, height). Pure byte-walk, no image library: each marker is
    0xFF <code> <u16 length incl. itself>; SOFn payload is
    precision(1) height(2) width(2). Raises ValueError on truncated or
    SOF-less streams."""
    i = 2  # past SOI
    n = len(content)
    while i + 4 <= n:
        if content[i] != 0xFF:
            raise ValueError(f"JPEG marker expected at offset {i}")
        marker = content[i + 1]
        if marker == 0xD9:  # EOI before any SOF
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # standalone RST/TEM
            i += 2
            continue
        seglen = struct.unpack(">H", content[i + 2 : i + 4])[0]
        if marker in _JPEG_SOF_MARKERS:
            if i + 9 > n:
                raise ValueError("truncated SOF segment")
            height, width = struct.unpack(">HH", content[i + 5 : i + 9])
            return (width, height)
        i += 2 + seglen
    raise ValueError("no SOF marker found")


def decode_image_meta(content: bytes) -> tuple[str, int, int]:
    """Parse (format, width, height) from the payload bytes.

    PNG (IHDR) and JPEG (SOF marker walk, jpeg_dimensions) are parsed for
    real -- no image library needed for dimensions; formats needing a codec
    report 'unknown'."""
    if content is None or len(content) < 8:
        return ("unknown", -1, -1)
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", content[16:24])
        return ("png", w, h)
    if content[:3] == b"\xff\xd8\xff":
        try:
            w, h = jpeg_dimensions(content)
            return ("jpeg", w, h)
        except ValueError:
            return ("jpeg", -1, -1)
    return ("unknown", -1, -1)


def extract_media_meta(df: DataFrame, content_col: str = "content") -> DataFrame:
    """mapInPandas pass filling the meta_* columns from the payload.

    One Arrow batch at a time; output schema is fixed so downstream plans
    (partition pruning on kind, filters on dimensions) stay columnar."""
    out_schema = StructType(
        [f for f in df.schema.fields if not f.name.startswith("meta_")]
        + [
            StructField("meta_format", StringType(), True),
            StructField("meta_width", IntegerType(), True),
            StructField("meta_height", IntegerType(), True),
            StructField("meta_bytes", LongType(), True),
        ]
    )
    keep_cols = [f.name for f in df.schema.fields if not f.name.startswith("meta_")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, sizes = [], [], [], []
            for content in pdf[content_col]:
                fmt, w, h = decode_image_meta(bytes(content) if content is not None else None)
                fmts.append(fmt)
                ws.append(w)
                hs.append(h)
                sizes.append(len(content) if content is not None else 0)
            out = pdf[keep_cols].copy()
            out["meta_format"] = fmts
            out["meta_width"] = pd.array(ws, dtype="int32")
            out["meta_height"] = pd.array(hs, dtype="int32")
            out["meta_bytes"] = pd.array(sizes, dtype="int64")
            yield out

    return df.mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame, target_w: int, target_h: int, content_col: str = "content"
) -> DataFrame:
    """REAL pixel resize, executor-side: decode (PNG or baseline JPEG) ->
    nearest-neighbor resample -> re-encode in the same format, all inside
    one mapInPandas pass (bytes never leave the executors; one Arrow batch
    at a time; no shuffle -- the production plan shape for media
    preprocessing at 100 TB).

    Payloads neither codec accepts (progressive/subsampled JPEG, corrupt
    or exotic PNG, other formats) pass through byte-identical with meta
    untouched rather than failing the batch; the caller can route on
    ``meta_format``."""
    out_schema = df.schema
    has_meta = "meta_width" in df.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents, ws, hs, nb = [], [], [], []
            for idx, content in enumerate(pdf[content_col]):
                raw = bytes(content) if content is not None else None
                if raw is not None and raw[:8] == _PNG_SIG:
                    try:
                        w, h, ch, px = decode_png(raw)
                        resized = resample_nearest(px, w, h, ch, target_w, target_h)
                        raw = encode_png(bytes(resized), target_w, target_h, ch)
                        contents.append(raw)
                        ws.append(target_w)
                        hs.append(target_h)
                        nb.append(len(raw))
                        continue
                    except ValueError:
                        pass  # unsupported/corrupt PNG: fall through untouched
                if raw is not None and raw[:3] == b"\xff\xd8\xff":
                    try:
                        w, h, ch, px = decode_jpeg(raw)
                        resized = resample_nearest(px, w, h, ch, target_w, target_h)
                        raw = encode_jpeg(bytes(resized), target_w, target_h, ch, quality=90)
                        contents.append(raw)
                        ws.append(target_w)
                        hs.append(target_h)
                        nb.append(len(raw))
                        continue
                    except ValueError:
                        pass  # non-baseline/subsampled JPEG: fall through untouched
                contents.append(raw)
                if has_meta:
                    ws.append(pdf["meta_width"].iloc[idx])
                    hs.append(pdf["meta_height"].iloc[idx])
                else:
                    ws.append(None)
                    hs.append(None)
                nb.append(len(raw) if raw is not None else 0)
            out = pdf.copy()
            out[content_col] = contents
            if has_meta:
                out["meta_width"] = pd.array(ws, dtype="int32")
                out["meta_height"] = pd.array(hs, dtype="int32")
                out["meta_bytes"] = pd.array(nb, dtype="int64")
            yield out

    return df.mapInPandas(run, out_schema)


# --- audio: WAV (RIFF) -- real parse + real PCM features, stdlib only -----


def make_synthetic_wav(
    n_samples: int, sample_rate: int = 16000, freq_step: int = 37, channels: int = 1
) -> bytes:
    """Deterministic PCM16 WAV: a sawtooth-ish integer waveform (no float
    trig, so byte-exact across platforms). Valid RIFF/fmt/data layout."""
    frames = bytearray()
    for i in range(n_samples):
        v = ((i * freq_step) % 20000) - 10000
        frames += struct.pack("<h", v) * channels
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    data = bytes(frames)
    riff_len = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF"
        + struct.pack("<I", riff_len)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(content: bytes) -> tuple[int, int, int, list[int]]:
    """Real WAV decode, stdlib only: RIFF chunk walk (tolerates extra
    chunks like LIST before data), PCM16 samples unpacked. Returns
    (sample_rate, channels, n_frames, samples interleaved)."""
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    i, n = 12, len(content)
    rate = channels = None
    samples: list[int] = []
    while i + 8 <= n:
        tag = content[i : i + 4]
        (length,) = struct.unpack("<I", content[i + 4 : i + 8])
        body = content[i + 8 : i + 8 + length]
        if tag == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if audio_fmt != 1 or bits != 16:
                raise ValueError(f"unsupported WAV encoding (fmt={audio_fmt}, bits={bits})")
        elif tag == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt")
            samples = list(struct.unpack(f"<{len(body) // 2}h", body[: len(body) // 2 * 2]))
        i += 8 + length + (length & 1)  # chunks are word-aligned
    if rate is None:
        raise ValueError("no fmt chunk")
    return (rate, channels, len(samples) // max(channels, 1), samples)


SPEC_NFFT = 256  # analysis window (samples); hop is half a window
SPEC_BANDS = 4  # log-spaced power bands over [1, NFFT/2]


def extract_spectrogram_features(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Spectral audio features over mapInPandas: Hann-windowed rFFT frames
    (numpy, no audio libraries), mean power in SPEC_BANDS log-spaced bands
    plus the dominant frequency bin -- the features an audio-corpus
    pipeline uses for music/speech/noise routing and near-silence culling.

    Float FFT output is not SQL-mirrorable, so like the streaming
    operators this stays out of the oracle registry; correctness is
    test-locked instead (pure-sine peak-bin identity, Parseval energy
    check against the time domain, frame-count arithmetic). Bytes stay
    executor-side; each batch does one decode + one vectorized FFT per
    clip -- the same 100 TB shape as every other media op here."""
    import numpy as np
    from pyspark.sql.types import ArrayType, DoubleType

    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("n_frames_fft", IntegerType(), True),
            StructField("band_power", ArrayType(DoubleType()), True),
            StructField("dominant_bin", IntegerType(), True),
        ]
    )
    edges = np.unique(
        np.round(np.geomspace(1, SPEC_NFFT // 2, SPEC_BANDS + 1)).astype(int)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        win = np.hanning(SPEC_NFFT)
        hop = SPEC_NFFT // 2
        for pdf in batches:
            nfr, bands, doms = [], [], []
            for content in pdf[content_col]:
                raw = bytes(content) if content is not None else None
                if raw is None or raw[:4] != b"RIFF":
                    nfr.append(None)
                    bands.append(None)
                    doms.append(None)
                    continue
                try:
                    _rate, ch, _n, s = decode_wav(raw)
                except ValueError:
                    nfr.append(None)
                    bands.append(None)
                    doms.append(None)
                    continue
                x = np.asarray(s, dtype=np.float64)
                if ch > 1:
                    # decode_wav returns interleaved samples; FFT of the
                    # interleaved stream would alias -- downmix to mono
                    x = x[: x.size // ch * ch].reshape(-1, ch).mean(axis=1)
                if x.size < SPEC_NFFT:
                    x = np.pad(x, (0, SPEC_NFFT - x.size))
                n_frames = 1 + (x.size - SPEC_NFFT) // hop
                frames = np.lib.stride_tricks.sliding_window_view(x, SPEC_NFFT)[::hop][
                    :n_frames
                ]
                spec = np.abs(np.fft.rfft(frames * win, axis=1)) ** 2
                mean_pow = spec.mean(axis=0)
                # half-open [lo, hi) bands partition the spectrum (no bin
                # counted twice); the last band also takes the top bin
                bp = [
                    float(mean_pow[lo : (hi + 1 if k == len(edges) - 2 else hi)].mean())
                    for k, (lo, hi) in enumerate(zip(edges[:-1], edges[1:]))
                ]
                nfr.append(n_frames)
                bands.append([round(v, 6) for v in bp])
                doms.append(int(mean_pow[1:].argmax()) + 1)  # DC excluded
            out = pdf.copy()
            out["n_frames_fft"] = pd.array(nfr, dtype="Int32")
            out["band_power"] = bands
            out["dominant_bin"] = pd.array(doms, dtype="Int32")
            yield out

    return df.mapInPandas(run, out_schema)


# --- oracle-gated codec queries (VERDICT r3 ask #4) -----------------------
#
# The synthetic payloads are closed-form -- PNG gradient pixel (y,j) is
# ((y % 256) + j) % 256, WAV sample i is ((i*37) % 20000) - 10000 -- so a
# SQL oracle can compute the EXPECTED decode output arithmetically while the
# Spark side runs the real byte-level codecs (encode_png -> decode_png,
# make_synthetic_wav -> decode_wav) inside mapInPandas. Any drift in chunk
# framing, IDAT inflate, unfiltering, resampling, or RIFF walking breaks the
# driver hash. Weighted positional checksums catch byte permutations that a
# plain sum would miss.

PNG_GATE_TARGET = (17, 13)  # deliberately non-divisor resize target
_GATE_DOCS = 64


def _gate_ids(spark, sf_dir: str) -> DataFrame:
    from pgsf_spark.tables import load_table

    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _GATE_DOCS)
        .select(F.col("doc_id").alias("media_id"))
    )


def _weighted_checksum(px: bytes) -> int:
    import numpy as np

    arr = np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64)
    weights = np.arange(arr.size, dtype=np.int64) % 9973 + 1
    return int((arr * weights).sum())


def q_png_decode_gate(spark, sf_dir: str) -> DataFrame:
    """PNG codec gate: synthesize gradient PNGs (real encoder), run them
    through extract_media_meta (real IHDR walk), the full pixel decoder, and
    resize_images (decode -> nearest-neighbor resample -> re-encode ->
    re-decode), emitting positional pixel checksums the DuckDB oracle
    reproduces from the gradient's closed form. The mapInPandas chain is the
    production media plumbing: bytes never hit the driver, schemas stay
    fixed, batches stay Arrow-sized."""
    ids = _gate_ids(spark, sf_dir)
    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w, h = 16 + m % 32, 16 + (m * 7) % 32
                rows.append((m, "image", make_synthetic_png(w, h), None, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    media = extract_media_meta(ids.mapInPandas(build, MEDIA_SCHEMA)).localCheckpoint()

    csum_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("channels", LongType(), True),
            StructField("pix_checksum", LongType(), True),
        ]
    )

    def checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _w, _h, ch, px = decode_png(bytes(content))
                out.append((int(mid), ch, _weighted_checksum(px)))
            yield pd.DataFrame(out, columns=["media_id", "channels", "pix_checksum"])

    rsum_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("resized_checksum", LongType(), True),
        ]
    )

    def resized_checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _w, _h, _ch, px = decode_png(bytes(content))
                out.append((int(mid), _weighted_checksum(px)))
            yield pd.DataFrame(out, columns=["media_id", "resized_checksum"])

    orig = media.mapInPandas(checksum, csum_schema)
    resized = resize_images(media, *PNG_GATE_TARGET).mapInPandas(
        resized_checksum, rsum_schema
    )
    return (
        media.select(
            "media_id",
            "meta_format",
            F.col("meta_width").cast("bigint").alias("meta_width"),
            F.col("meta_height").cast("bigint").alias("meta_height"),
        )
        .join(orig, "media_id")
        .join(resized, "media_id")
        .orderBy("media_id")
    )


def q_jpeg_decode_gate(spark, sf_dir: str) -> DataFrame:
    """JPEG codec gate: synthesize block-constant grayscale baseline JPEGs
    with the REAL encoder (jpeg_codec.encode_jpeg: FDCT, quantization,
    Huffman entropy coding, byte stuffing), run them through
    extract_media_meta (real SOF walk) and the REAL table-driven decoder
    (Huffman entropy decode, dequantize, IDCT), and emit positional pixel
    checksums.

    Block-constant images quantize to DC-only blocks, whose decoded pixels
    have the exact integer closed form the DuckDB oracle computes:
    pix = clip(128 + 2 * rha((v - 128) / 2)) at quality 50 (DC step 16)
    -- so a full lossy codec round-trip becomes a hash-exact gate, while
    the AC/entropy path is exercised by the gradient roundtrip tests
    (lossy, tolerance-bounded, not oracle-gateable). Any drift in marker
    framing, table construction, bit packing, zigzag order, DC prediction
    or the IDCT breaks the driver hash."""
    ids = _gate_ids(spark, sf_dir)
    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w, h = 16 + 8 * (m % 3), 16 + 8 * ((m * 5) % 3)
                img = np.zeros((h, w), dtype=np.uint8)
                for by in range(h // 8):
                    for bx in range(w // 8):
                        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                            37 * bx + 73 * by + 11 * m
                        ) % 256
                content = encode_jpeg(img.tobytes(), w, h, 1, quality=50)
                rows.append((m, "image", content, None, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    media = extract_media_meta(ids.mapInPandas(build, MEDIA_SCHEMA)).localCheckpoint()

    csum_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("channels", LongType(), True),
            StructField("pix_checksum", LongType(), True),
        ]
    )

    def checksum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                _w, _h, ch, px = decode_jpeg(bytes(content))
                out.append((int(mid), ch, _weighted_checksum(px)))
            yield pd.DataFrame(out, columns=["media_id", "channels", "pix_checksum"])

    return (
        media.select(
            "media_id",
            "meta_format",
            F.col("meta_width").cast("bigint").alias("meta_width"),
            F.col("meta_height").cast("bigint").alias("meta_height"),
        )
        .join(media.mapInPandas(checksum, csum_schema), "media_id")
        .orderBy("media_id")
    )


def q_wav_features_gate(spark, sf_dir: str) -> DataFrame:
    """WAV codec gate: synthesize sawtooth PCM16 WAVs, decode them with the
    real RIFF walker, and emit integer-exact features (sum of squares, zero
    crossings) plus derived doubles built from single IEEE ops (one divide,
    one sqrt) so both engines produce identical bits -- no rounding of
    accumulated floats anywhere."""
    ids = _gate_ids(spark, sf_dir)
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("audio_format", StringType(), True),
            StructField("sample_rate", LongType(), True),
            StructField("n_frames", LongType(), True),
            StructField("sum_sq", LongType(), True),
            StructField("zero_crossings", LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid in pdf["media_id"]:
                m = int(mid)
                n = 1200 + (m % 17) * 53
                rate = 8000 + (m % 3) * 4000
                r, _ch, nf, s = decode_wav(make_synthetic_wav(n, rate))
                ssq = sum(v * v for v in s)
                zc = sum(1 for a, b in zip(s, s[1:]) if (a < 0) != (b < 0))
                out.append((m, "wav", r, nf, ssq, zc))
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id",
                    "audio_format",
                    "sample_rate",
                    "n_frames",
                    "sum_sq",
                    "zero_crossings",
                ],
            )

    feats = ids.mapInPandas(run, schema)
    return feats.select(
        "media_id",
        "audio_format",
        "sample_rate",
        "n_frames",
        "sum_sq",
        "zero_crossings",
        (F.col("n_frames") / F.col("sample_rate")).alias("duration_sec"),
        F.sqrt(F.col("sum_sq") / F.col("n_frames")).alias("rms"),
    ).orderBy("media_id")


# --- perceptual image dedup (average hash) --------------------------------

AHASH_GRID = 8  # 8x8 sample grid -> 64-bit hash, stored as two 32-bit halves
AHASH_TAU = 3  # max Hamming distance for a near-dup pair
AHASH_BANDS = 4  # 16-bit bands; tau < bands => pigeonhole-complete recall


def image_ahash(media: DataFrame) -> DataFrame:
    """Perceptual average-hash over REAL decoded pixels: nearest-neighbor
    sample an 8x8 luma grid (same ``src = dst * size // out`` arithmetic as
    resize_images), threshold each cell against the grid mean, pack the 64
    bits as two 32-bit halves (``ahash_hi``, ``ahash_lo`` -- kept split so
    every downstream engine does exact BIGINT math with no sign-bit edge).

    All integer arithmetic: luma is the raw channel sum (no /3, no floats)
    and the threshold compares ``luma * 64 > total`` -- bit-exact in any
    engine and invariant to channel count normalization. Decodes PNG and
    baseline JPEG (signature dispatch). Runs in mapInPandas: bytes stay
    executor-side, one decode per image."""
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("ahash_hi", LongType(), True),
            StructField("ahash_lo", LongType(), True),
        ]
    )
    g = AHASH_GRID

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                raw = bytes(content)
                if raw[:3] == b"\xff\xd8\xff":
                    w, h, ch, px = decode_jpeg(raw)
                else:
                    w, h, ch, px = decode_png(raw)
                nc = min(ch, 3)  # RGBA: alpha excluded from luma
                luma = []
                for by in range(g):
                    y = by * h // g
                    for bx in range(g):
                        x = bx * w // g
                        base = (y * w + x) * ch
                        luma.append(sum(px[base : base + nc]))
                total = sum(luma)
                n = g * g
                hi = lo = 0
                for k, v in enumerate(luma):
                    if v * n > total:
                        if k < 32:
                            lo |= 1 << k
                        else:
                            hi |= 1 << (k - 32)
                out.append((int(mid), hi, lo))
            yield pd.DataFrame(out, columns=["media_id", "ahash_hi", "ahash_lo"])

    return media.mapInPandas(run, schema)


def ahash_near_dup_pairs(hashes: DataFrame, tau: int = AHASH_TAU) -> DataFrame:
    """Banded Hamming join over aHash signatures: split the 64 bits into
    AHASH_BANDS 16-bit bands; any pair within Hamming tau (< bands) shares
    at least one identical band (pigeonhole), so the band equi-join has
    PERFECT recall while never forming the quadratic cross product --
    the image-side twin of simhash_near_dup. Exact Hamming verification
    (two XOR+popcounts, JVM built-ins) runs on candidates only."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("ahash_lo" if i < 2 else "ahash_hi"), (i % 2) * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for i in range(AHASH_BANDS)
        ]
    )
    b = hashes.select("media_id", "ahash_hi", "ahash_lo", F.explode(bands).alias("bv")).select(
        "media_id", "ahash_hi", "ahash_lo", F.col("bv.band").alias("band"), F.col("bv.val").alias("val")
    )
    a_side = b.select(
        F.col("media_id").alias("ka"),
        F.col("ahash_hi").alias("hi_a"),
        F.col("ahash_lo").alias("lo_a"),
        "band",
        "val",
    )
    b_side = b.select(
        F.col("media_id").alias("kb"),
        F.col("ahash_hi").alias("hi_b"),
        F.col("ahash_lo").alias("lo_b"),
        "band",
        "val",
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        a_side.join(b_side, ["band", "val"])
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb", ham.alias("hamming"))
        .filter(F.col("hamming") <= tau)
        .distinct()
    )


def q_image_ahash_neardup(spark, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection, decode to verdict: synthesize
    gradient PNGs (real encoder), aHash them from REAL decoded pixels, and
    find near-dup pairs with the banded Hamming join. The DuckDB oracle
    reproduces the hashes arithmetically from the gradient's closed form
    and verifies pairs by brute force -- so the driver hash gates the
    whole chain: PNG codec, sampling arithmetic, bit packing, and the
    pigeonhole join's perfect recall."""
    ids = _gate_ids(spark, sf_dir)
    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w, h = 16 + m % 32, 16 + (m * 7) % 32
                rows.append((m, "image", make_synthetic_png(w, h), None, None, None, None))
            yield pd.DataFrame(rows, columns=cols)

    media = ids.mapInPandas(build, MEDIA_SCHEMA)
    pairs = ahash_near_dup_pairs(image_ahash(media))
    return pairs.orderBy("ka", "kb")


# --------------------------------------------------------------------------
# Video: minimal raw container + frame sampling (the brief's frame-sample
# multimodal op). Container: b"RVID" | u16 w | u16 h | u16 n_frames |
# u16 fps | n_frames grayscale frames of w*h bytes. Synthetic frames have
# the closed form pix(f, i) = (base + 3*f + (x + y)) % 256 with
# base = media_id % 251 and i = y*w + x, so every sampled-frame checksum
# and temporal-diff sum is reproducible arithmetically by the oracle.
# --------------------------------------------------------------------------

VIDEO_MAGIC = b"RVID"
VIDEO_SAMPLE_EVERY = 4  # keep frames 0, 4, 8, ...


def make_synthetic_video(media_id: int, w: int, h: int, n_frames: int, fps: int = 10) -> bytes:
    import numpy as np

    base = media_id % 251
    y, x = np.mgrid[0:h, 0:w]
    plane = (x + y).astype(np.int64)
    frames = [
        ((base + 3 * f + plane) % 256).astype(np.uint8).tobytes()
        for f in range(n_frames)
    ]
    head = VIDEO_MAGIC + struct.pack("<HHHH", w, h, n_frames, fps)
    return head + b"".join(frames)


def decode_video_header(raw: bytes):
    """(w, h, n_frames, fps) from the RVID header; raises on bad magic."""
    if raw[:4] != VIDEO_MAGIC:
        raise ValueError("not an RVID container")
    return struct.unpack("<HHHH", raw[4:12])


def iter_video_frames(raw: bytes, every: int = 1):
    """Yield (frame_idx, frame_bytes) for every `every`-th frame."""
    w, h, n, _fps = decode_video_header(raw)
    sz = w * h
    for f in range(0, n, every):
        off = 12 + f * sz
        yield f, raw[off : off + sz]


def q_video_frame_sample_gate(spark, sf_dir: str) -> DataFrame:
    """Video frame-sampling gate: synthesize deterministic RVID raw-video
    containers, parse the header (real struct walk), sample every K-th
    frame with mapInPandas (bytes never leave the executors, one output
    row per SAMPLED frame), and emit per-frame positional checksums plus
    the temporal absolute-diff sum against the previous sampled frame --
    the plumbing a real video pipeline needs (schema, batching, frame
    iteration, per-frame features) with a closed-form oracle.

    Every output number is an exact integer (checksums, diff sums,
    header fields), reproduced by the DuckDB oracle from the synthetic
    closed form pix = (base + 3f + x + y) % 256 -- a full binary
    container round-trip as a hash-exact gate.

    Plan: one bounded id scan -> mapInPandas synth+sample (Arrow
    batches); output is n_sampled_frames rows per video, never the raw
    frames."""
    ids = _gate_ids(spark, sf_dir)

    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("width", LongType(), True),
            StructField("height", LongType(), True),
            StructField("n_frames", LongType(), True),
            StructField("frame_idx", LongType(), True),
            StructField("frame_checksum", LongType(), True),
            StructField("diff_prev_sampled", LongType(), True),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w = 16 + m % 16
                h = 12 + (m * 5) % 12
                n = 8 + m % 9
                raw = make_synthetic_video(m, w, h, n)
                ww, hh, nn, _fps = decode_video_header(raw)
                prev = None
                for f, fb in iter_video_frames(raw, VIDEO_SAMPLE_EVERY):
                    arr = np.frombuffer(fb, dtype=np.uint8).astype(np.int64)
                    diff = (
                        int(np.abs(arr - prev).sum()) if prev is not None else None
                    )
                    rows.append(
                        (m, ww, hh, nn, f, _weighted_checksum(fb), diff)
                    )
                    prev = arr
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_frames",
                    "frame_idx",
                    "frame_checksum",
                    "diff_prev_sampled",
                ],
            )

    return ids.mapInPandas(sample, out_schema).orderBy("media_id", "frame_idx")
