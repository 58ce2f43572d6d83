"""Multimodal ANALYSIS shapes over the binary
codecs (multimodal.py owns the codecs; this module owns the new analysis
queries built on them).

Design rules inherited from the codec gates (multimodal.py):
  - synthesis + decode + feature extraction run in mapInPandas -- bytes
    never reach the driver, schemas are fixed StructTypes, batches stay
    Arrow-sized;
  - every emitted number is integer-exact (or a ROUND of a ratio of exact
    integers), so the DuckDB oracle reproduces it from the synthetic
    closed form and the driver hash gates the WHOLE chain: real encoder,
    real decoder, sampling arithmetic, transform, thresholding, join;
  - float trig never crosses the engine boundary: the perceptual-DCT and
    spectral transforms use integer-rounded cosine matrices (PHASH_DCT /
    SPEC_DCT below, the libjpeg-style integer-DCT trick), embedded
    literally in both the Python path and the generated oracle SQL from
    the same constant, so parity holds by construction.

Reference parity: the reference engine has no media surface at all; this
is beyond-reference scope per the build brief (multimodal columns as
opaque binaries + typed metadata + vectorized decode).
"""

from __future__ import annotations

import math
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from pgsf_spark.analytics.multimodal import (
    MEDIA_SCHEMA,
    VIDEO_MAGIC,
    _gate_ids,
    _weighted_checksum,
    decode_png,
    decode_video_header,
    decode_wav,
    encode_png,
    iter_video_frames,
    jpeg_dimensions,
    make_synthetic_jpeg,
    make_synthetic_png,
    make_synthetic_video,
    make_synthetic_wav,
    resize_images,
)
from pgsf_spark.tables import load_table

# ---------------------------------------------------------------------------
# 9. image_phash_neardup: integer-DCT perceptual hash
# ---------------------------------------------------------------------------

PHASH_GRID = 8
PHASH_TAU = 6  # max Hamming distance for a near-dup pair (63-bit hash)


def _texture_params(media_id: int) -> tuple[int, int, int]:
    """(a, b, c) texture family for a gate image: 32 families over 64 ids,
    so same-family near-dup pairs EXIST by construction while cross-family
    images hash far apart -- the single shared gradient of the codec gates
    would make every pair a near-dup and the join trivial."""
    return 1 + media_id % 4, 1 + (media_id // 4) % 4, (media_id // 16) % 2


def make_textured_png(media_id: int, width: int, height: int) -> bytes:
    """Deterministic REAL PNG with a per-id texture: byte (y, x3) is
    (a*y + b*x3 + c*((y*x3) % 7)) % 256 -- linear ramps per family plus a
    small nonlinear weave, all integer, closed-form reproducible in SQL."""
    a, b, c = _texture_params(media_id)
    stride = width * 3
    pixels = bytes(
        (a * y + b * x3 + c * ((y * x3) % 7)) % 256
        for y in range(height)
        for x3 in range(stride)
    )
    return encode_png(pixels, width, height, 3)


# integer DCT-II basis, scaled by 64 (the libjpeg integer-DCT device):
# exact integer arithmetic end-to-end, so the hash is bit-identical in any
# engine -- a float DCT would flip bits near the median on ulp differences.
PHASH_DCT = tuple(
    tuple(round(64 * math.cos(math.pi * (2 * x + 1) * u / 16)) for x in range(8))
    for u in range(8)
)


def _phash_bits_from_grid(luma: list) -> tuple[int, int]:
    """63-bit pHash from an 8x8 integer luma grid: T = M L M^T with the
    integer basis, AC coefficients thresholded against their 32nd-smallest
    value (DC excluded -- brightness must not dominate). Returns (hi, lo)
    halves (bits 32..62 / 0..31)."""
    m = PHASH_DCT
    # T[u][v] = sum_{i,j} M[u][i] * L[i][j] * M[v][j], all ints
    t = [
        [
            sum(
                m[u][i] * luma[i * 8 + j] * m[v][j]
                for i in range(8)
                for j in range(8)
            )
            for v in range(8)
        ]
        for u in range(8)
    ]
    ac = [t[u][v] for u in range(8) for v in range(8) if (u, v) != (0, 0)]
    med = sorted(ac)[31]  # 32nd smallest of 63 AC values
    hi = lo = 0
    for k in range(1, 64):  # k = u*8+v over the 63 AC slots
        if t[k // 8][k % 8] > med:
            b = k - 1
            if b < 32:
                lo |= 1 << b
            else:
                hi |= 1 << (b - 32)
    return hi, lo


def _luma_grid_png(raw: bytes) -> list:
    """8x8 nearest-sampled channel-sum luma grid from a decoded PNG --
    the same ``src = dst * size // out`` sampling as image_ahash."""
    w, h, ch, px = decode_png(raw)
    nc = min(ch, 3)
    g = PHASH_GRID
    out = []
    for by in range(g):
        y = by * h // g
        for bx in range(g):
            x = bx * w // g
            base = (y * w + x) * ch
            out.append(sum(px[base : base + nc]))
    return out


def image_phash(media: DataFrame) -> DataFrame:
    """Integer-DCT perceptual hash over REAL decoded pixels: aHash's
    robust sibling (aHash thresholds raw luma -- any smooth gradient flips
    half its bits under brightness shift; pHash thresholds the DCT's AC
    structure, which survives global brightness and mild rescaling)."""
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("phash_hi", LongType(), True),
            StructField("phash_lo", LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                hi, lo = _phash_bits_from_grid(_luma_grid_png(bytes(content)))
                out.append((int(mid), hi, lo))
            yield pd.DataFrame(out, columns=["media_id", "phash_hi", "phash_lo"])

    return media.mapInPandas(run, schema)


def q_image_phash_neardup(spark, sf_dir: str) -> DataFrame:
    """Image near-dup pairs in the perceptual-DCT hash space: synthesize
    textured PNGs (real encoder), decode, 8x8 luma grid, integer DCT,
    63-bit hash, then the banded Hamming join (pigeonhole over EIGHT 8-bit
    bands -- see phash_near_dup_pairs: any pair within tau < bands shares
    a band, so recall is perfect and the plan never forms the quadratic
    cross product).

    The oracle rebuilds the hashes arithmetically: the closed-form
    gradient pixels, the same integer DCT matrix (embedded from the same
    Python constant), the same 32nd-smallest-AC threshold, brute-force
    pair verification. Every stage of the perceptual pipeline is inside
    the driver hash."""
    ids = _gate_ids(spark, sf_dir)
    cols = [f.name for f in MEDIA_SCHEMA.fields]

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w, h = 16 + m % 32, 16 + (m * 7) % 32
                rows.append(
                    (m, "image", make_textured_png(m, w, h), None, None, None, None)
                )
            yield pd.DataFrame(rows, columns=cols)

    media = ids.mapInPandas(build, MEDIA_SCHEMA)
    return phash_near_dup_pairs(image_phash(media), tau=PHASH_TAU).orderBy("ka", "kb")


PHASH_BANDS = 8  # 8-bit bands; PHASH_TAU < PHASH_BANDS => pigeonhole recall


def phash_near_dup_pairs(hashes: DataFrame, tau: int = PHASH_TAU) -> DataFrame:
    """Banded Hamming join at pHash's wider tau: EIGHT 8-bit bands (not
    the aHash join's four 16-bit ones -- pigeonhole recall needs tau <
    band count, and tau=6 over 4 bands silently drops distance-5/6 pairs,
    which is exactly the recall bug the oracle's brute-force side would
    catch). Same plan shape: band equi-join for candidates, exact
    XOR+popcount verify on candidates only, never the full cross
    product."""
    if tau >= PHASH_BANDS:
        raise ValueError(f"tau={tau} needs < {PHASH_BANDS} bands for full recall")
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright(F.col("phash_lo" if i < 4 else "phash_hi"), (i % 4) * 8)
                .bitwiseAND(F.lit(0xFF))
                .alias("val"),
            )
            for i in range(PHASH_BANDS)
        ]
    )
    b = hashes.select(
        "media_id", "phash_hi", "phash_lo", F.explode(bands).alias("bv")
    ).select("media_id", "phash_hi", "phash_lo", "bv.band", "bv.val")
    a_side = b.select(
        F.col("media_id").alias("ka"),
        F.col("phash_hi").alias("hi_a"),
        F.col("phash_lo").alias("lo_a"),
        "band",
        "val",
    )
    b_side = b.select(
        F.col("media_id").alias("kb"),
        F.col("phash_hi").alias("hi_b"),
        F.col("phash_lo").alias("lo_b"),
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


# ---------------------------------------------------------------------------
# 10. image_channel_histogram
# ---------------------------------------------------------------------------

HIST_BINS = 8  # 32-wide intensity bins


def q_image_channel_histogram(spark, sf_dir: str) -> DataFrame:
    """Per-channel intensity histograms over REAL decoded pixels,
    corpus-aggregated: each gate image decodes executor-side, numpy
    bincounts its pixels into (channel, 8-bin) cells, and one tiny
    groupBy sums the per-image partials -- the map-side-combinable shape
    that makes a corpus-wide pixel histogram one scan + one 24-row
    shuffle at any scale (never a per-pixel explode)."""
    import numpy as np

    ids = _gate_ids(spark, sf_dir)
    schema = StructType(
        [
            StructField("channel", LongType(), False),
            StructField("bin", LongType(), False),
            StructField("n_px", LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc = np.zeros((3, HIST_BINS), dtype=np.int64)
            for mid in pdf["media_id"]:
                m = int(mid)
                w, h = 16 + m % 32, 16 + (m * 7) % 32
                _w, _h, ch, px = decode_png(make_synthetic_png(w, h))
                arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(-1, ch)
                for c in range(min(ch, 3)):
                    acc[c] += np.bincount(arr[:, c] >> 5, minlength=HIST_BINS)
            rows = [
                (c, b, int(acc[c][b]))
                for c in range(3)
                for b in range(HIST_BINS)
            ]
            yield pd.DataFrame(rows, columns=["channel", "bin", "n_px"])

    return (
        ids.mapInPandas(run, schema)
        .groupBy("channel", "bin")
        .agg(F.sum("n_px").alias("n_px"))
        .filter(F.col("n_px") > 0)  # empty bins carry no information
        .orderBy("channel", "bin")
    )


# ---------------------------------------------------------------------------
# 11. image_resize_gate: thumbnail pyramid
# ---------------------------------------------------------------------------

PYRAMID_LEVELS = ((4, 3), (9, 7), (20, 15))  # non-divisor targets on purpose


def q_image_resize_gate(spark, sf_dir: str) -> DataFrame:
    """Thumbnail-pyramid plumbing: ONE decoded image fans out to three
    resize->re-encode->re-decode round trips (resize_images per level,
    union), each emitting a positional pixel checksum the oracle
    reproduces from the nearest-neighbor closed form. The pyramid is the
    shape a real media pipeline runs (preview + grid + tile variants per
    asset); the gate pins that N independent resample passes stay
    independent and exact -- a cache/plan regression that feeds one
    level's output into another flips the checksums."""
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

    media = ids.mapInPandas(build, MEDIA_SCHEMA).localCheckpoint(eager=True)

    out_schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("level", LongType(), False),
            StructField("out_w", LongType(), False),
            StructField("out_h", LongType(), False),
            StructField("checksum", LongType(), True),
        ]
    )
    levels = []
    for lvl, (tw, th) in enumerate(PYRAMID_LEVELS):

        def checksum(batches: Iterator[pd.DataFrame], lvl=lvl, tw=tw, th=th):
            for pdf in batches:
                out = []
                for mid, content in zip(pdf["media_id"], pdf["content"]):
                    _w, _h, _ch, px = decode_png(bytes(content))
                    out.append((int(mid), lvl, tw, th, _weighted_checksum(px)))
                yield pd.DataFrame(
                    out, columns=["media_id", "level", "out_w", "out_h", "checksum"]
                )

        levels.append(
            resize_images(media, tw, th).mapInPandas(checksum, out_schema)
        )
    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    return out.orderBy("media_id", "level")


# ---------------------------------------------------------------------------
# 12. audio_spectral_centroid: integer short-time cosine spectrum
# ---------------------------------------------------------------------------

SPEC_FRAME = 16  # analysis frame (samples), non-overlapping
SPEC_BINS = 8  # cosine-probe bins k = 1..8
SPEC_MOD = 1_000_000_007  # power-mass pin kept integer-exact via a modulus
# integer-rounded cosine probes (scaled by 64), same engine-parity trick
# as PHASH_DCT: the short-time transform is exact integer algebra.
SPEC_DCT = tuple(
    tuple(
        round(64 * math.cos(math.pi * (2 * i + 1) * k / (2 * SPEC_FRAME)))
        for i in range(SPEC_FRAME)
    )
    for k in range(1, SPEC_BINS + 1)
)


def q_audio_spectral_centroid(spark, sf_dir: str) -> DataFrame:
    """Per-clip spectral centroid over an integer short-time cosine
    spectrum: REAL WAV decode, frames of SPEC_FRAME samples, integer
    cosine probes k=1..SPEC_BINS (SPEC_DCT), per-bin power summed across
    frames (exact integers end-to-end), centroid = sum(k*P_k)/sum(P_k).
    The brightness feature audio curation filters on, with the float-FFT
    engine-parity hazard designed out: both engines divide the SAME two
    exact integers, so the rounded double matches bit-for-bit.

    Emits the power mass as a modular pin (SPEC_MOD) rather than a raw
    double so the whole spectrum -- not just the centroid ratio -- is
    inside the hash."""
    from pyspark.sql.types import DoubleType

    ids = _gate_ids(spark, sf_dir)
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_frames_spec", LongType(), True),
            StructField("centroid", DoubleType(), True),
            StructField("power_mod", LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid in pdf["media_id"]:
                m = int(mid)
                n = 1200 + (m % 17) * 53
                rate = 8000 + (m % 3) * 4000
                _rate, _ch, _nf, s = decode_wav(make_synthetic_wav(n, rate))
                nf = len(s) // SPEC_FRAME
                power = [0] * SPEC_BINS
                for f in range(nf):
                    seg = s[f * SPEC_FRAME : (f + 1) * SPEC_FRAME]
                    for kk in range(SPEC_BINS):
                        t = sum(c * v for c, v in zip(SPEC_DCT[kk], seg))
                        power[kk] += t * t
                num = sum((kk + 1) * p for kk, p in enumerate(power))
                den = sum(power)
                # float() each side BEFORE dividing: mirrors the oracle's
                # CAST(.. AS DOUBLE)/CAST(.. AS DOUBLE), so both engines
                # round the same two integers then do one IEEE division
                cent = round(float(num) / float(den), 6) if den else None
                out.append((m, nf, cent, den % SPEC_MOD))
            yield pd.DataFrame(
                out, columns=["media_id", "n_frames_spec", "centroid", "power_mod"]
            )

    return ids.mapInPandas(run, schema).orderBy("media_id")


# ---------------------------------------------------------------------------
# 13. audio_silence_ratio
# ---------------------------------------------------------------------------

SILENCE_AMP = 500  # |sample| below this counts as silence (PCM16)
GAP_BLOCK = 256  # every 4th 256-sample block is forced silent


def make_gapped_wav(n_samples: int, sample_rate: int = 16000) -> bytes:
    """Sawtooth WAV with deterministic silent gaps: every 4th GAP_BLOCK
    block is zeroed -- the shape a silence-ratio curation filter exists
    for. Same RIFF layout as make_synthetic_wav, still float-free."""
    frames = bytearray()
    for i in range(n_samples):
        v = 0 if (i // GAP_BLOCK) % 4 == 3 else ((i * 37) % 20000) - 10000
        frames += struct.pack("<h", v)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    data = bytes(frames)
    riff_len = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF" + struct.pack("<I", riff_len) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def q_audio_silence_ratio(spark, sf_dir: str) -> DataFrame:
    """Amplitude-threshold silence fraction per clip from REAL decoded
    PCM: the standard VAD-lite curation feature (drop clips that are
    mostly silence). Counting is integer (|s| < SILENCE_AMP), the ratio a
    ROUND of two exact integers; the oracle reproduces both from the
    gapped-sawtooth closed form, so the decode path and the threshold
    comparison are both inside the hash."""
    from pyspark.sql.types import DoubleType

    ids = _gate_ids(spark, sf_dir)
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_samples", LongType(), True),
            StructField("n_silent", LongType(), True),
            StructField("silence_ratio", DoubleType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid in pdf["media_id"]:
                m = int(mid)
                n = 1200 + (m % 17) * 53
                _r, _c, _nf, s = decode_wav(make_gapped_wav(n))
                silent = sum(1 for v in s if -SILENCE_AMP < v < SILENCE_AMP)
                out.append((m, len(s), silent, round(silent / len(s), 6)))
            yield pd.DataFrame(
                out, columns=["media_id", "n_samples", "n_silent", "silence_ratio"]
            )

    return ids.mapInPandas(run, schema).orderBy("media_id")


# ---------------------------------------------------------------------------
# 14. video_shot_boundaries
# ---------------------------------------------------------------------------

SHOT_TAU_MILLI = 8000  # mean abs frame-diff (milli gray levels) declaring a cut


def make_shot_video(media_id: int, w: int, h: int, n_frames: int) -> bytes:
    """RVID with deterministic SHOTS: the base plane offset jumps every
    shot_len frames and is constant inside a shot, so within-shot frame
    diffs are exactly zero and every cut is a positive diff -- the ground
    truth a boundary detector can be gated against."""
    import numpy as np

    shot_len = 3 + media_id % 4
    y, x = np.mgrid[0:h, 0:w]
    plane = (x + y).astype(np.int64)
    frames = [
        (((media_id * 31 + 17 * (f // shot_len)) % 251 + plane) % 256)
        .astype(np.uint8)
        .tobytes()
        for f in range(n_frames)
    ]
    return VIDEO_MAGIC + struct.pack("<HHHH", w, h, n_frames, 10) + b"".join(frames)


def q_video_shot_boundaries(spark, sf_dir: str) -> DataFrame:
    """Frame-delta shot detection on RVID: decode every frame, sum the
    absolute pixel delta against the previous frame, declare a cut when
    the mean delta exceeds SHOT_TAU_MILLI. Per clip: frame count, cuts
    found, zero-delta transitions (the within-shot complement -- pinning
    it proves no spurious motion), and the cut list as a joined string.
    All integer arithmetic; the oracle replays the shot closed form
    pixel-by-pixel, including the mod-256 wraparound the naive
    |b2 - b1| misses."""
    import numpy as np

    ids = _gate_ids(spark, sf_dir)
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_frames", LongType(), True),
            StructField("n_cuts", LongType(), True),
            StructField("n_static", LongType(), True),
            StructField("cut_frames", StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w = 16 + m % 16
                h = 12 + (m * 5) % 12
                n = 8 + m % 9
                raw = make_shot_video(m, w, h, n)
                _w, _h, nn, _fps = decode_video_header(raw)
                prev = None
                cuts, static = [], 0
                for f, fb in iter_video_frames(raw):
                    arr = np.frombuffer(fb, dtype=np.uint8).astype(np.int64)
                    if prev is not None:
                        d = int(np.abs(arr - prev).sum())
                        if d == 0:
                            static += 1
                        elif d * 1000 > SHOT_TAU_MILLI * arr.size:
                            cuts.append(f)
                    prev = arr
                out.append((m, nn, len(cuts), static, ",".join(map(str, cuts))))
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_frames", "n_cuts", "n_static", "cut_frames"],
            )

    return ids.mapInPandas(run, schema).orderBy("media_id")


# ---------------------------------------------------------------------------
# 15. video_motion_profile
# ---------------------------------------------------------------------------


def q_video_motion_profile(spark, sf_dir: str) -> DataFrame:
    """Mean absolute frame-to-frame delta per clip over EVERY consecutive
    frame pair of the standard RVID synth (constant drift +3/frame, so
    the truth is 3 per pixel except mod-256 wrap pixels -- the wraparound
    is exactly what distinguishes a real byte-domain implementation from
    a float one). Integer totals; the milli mean is an integer division
    reproduced by the oracle."""
    import numpy as np

    ids = _gate_ids(spark, sf_dir)
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_frames", LongType(), True),
            StructField("n_px", LongType(), True),
            StructField("total_abs_diff", LongType(), True),
            StructField("mean_diff_milli", LongType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w = 16 + m % 16
                h = 12 + (m * 5) % 12
                n = 8 + m % 9
                raw = make_synthetic_video(m, w, h, n)
                prev, total = None, 0
                for _f, fb in iter_video_frames(raw):
                    arr = np.frombuffer(fb, dtype=np.uint8).astype(np.int64)
                    if prev is not None:
                        total += int(np.abs(arr - prev).sum())
                    prev = arr
                npx = w * h
                out.append((m, n, npx, total, total * 1000 // (npx * (n - 1))))
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_frames", "n_px", "total_abs_diff", "mean_diff_milli"],
            )

    return ids.mapInPandas(run, schema).orderBy("media_id")


# ---------------------------------------------------------------------------
# 16. multimodal_dedup_cross
# ---------------------------------------------------------------------------

CROSS_VIDEOS = 32  # video ids (same dims formula as the image with that id)
CROSS_FRAME_DRIFT = 11  # per-frame brightness drift in the cross synth


def make_cross_video(media_id: int, w: int, h: int, n_frames: int) -> bytes:
    """RVID whose frame-0 grayscale replicates image ``media_id``'s
    channel-0 texture (pixel = (a*y + 3*b*x + c*((y*3x) % 7)) % 256) and
    later frames drift by CROSS_FRAME_DRIFT gray levels -- so image/video
    near-dups EXIST by construction (each video is a "re-encode" of its
    image) and cross-family pairs stay far."""
    import numpy as np

    a, b, c = _texture_params(media_id)
    y, x = np.mgrid[0:h, 0:w]
    plane = (a * y + 3 * b * x + c * ((y * 3 * x) % 7)).astype(np.int64)
    frames = [
        ((plane + CROSS_FRAME_DRIFT * f) % 256).astype(np.uint8).tobytes()
        for f in range(n_frames)
    ]
    return VIDEO_MAGIC + struct.pack("<HHHH", w, h, n_frames, 10) + b"".join(frames)


def _grid_bits(vals: list) -> tuple[int, int]:
    """aHash bit packing shared by both modalities: cell > grid mean
    (scale-invariant, so a 3-channel luma SUM and a 1-channel gray value
    hash into the same space)."""
    total = sum(vals)
    n = len(vals)
    hi = lo = 0
    for k, v in enumerate(vals):
        if v * n > total:
            if k < 32:
                lo |= 1 << k
            else:
                hi |= 1 << (k - 32)
    return hi, lo


def q_multimodal_dedup_cross(spark, sf_dir: str) -> DataFrame:
    """Near-dup pairs ACROSS modalities: gate PNGs vs sampled video
    keyframes in the shared aHash space (mean-threshold bits are
    scale-invariant, so a 3-channel luma sum and a single-channel frame
    hash compatibly). Keyframes every VIDEO_SAMPLE_EVERY frames; the
    banded Hamming join runs image-side vs frame-side only (no
    within-modality pairs) -- the dedup shape that catches a video
    re-encode of a corpus image at 100 TB without a quadratic scan.

    Oracle: both hash families from their closed forms, brute-force
    cross verification."""
    from pgsf_spark.analytics.multimodal import AHASH_TAU, VIDEO_SAMPLE_EVERY

    ids = _gate_ids(spark, sf_dir)
    img_cols = [f.name for f in MEDIA_SCHEMA.fields]

    def build_imgs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w, h = 16 + m % 32, 16 + (m * 7) % 32
                rows.append(
                    (m, "image", make_textured_png(m, w, h), None, None, None, None)
                )
            yield pd.DataFrame(rows, columns=img_cols)

    from pgsf_spark.analytics.multimodal import image_ahash

    img_hashes = image_ahash(ids.mapInPandas(build_imgs, MEDIA_SCHEMA))

    vschema = StructType(
        [
            StructField("video_id", LongType(), False),
            StructField("frame_idx", LongType(), False),
            StructField("ahash_hi", LongType(), True),
            StructField("ahash_lo", LongType(), True),
        ]
    )
    vids = ids.filter(F.col("media_id") < CROSS_VIDEOS)

    def frame_hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid in pdf["media_id"]:
                m = int(mid)
                w, h = 16 + m % 32, 16 + (m * 7) % 32
                n = 4 + m % 5
                raw = make_cross_video(m, w, h, n)
                for f, fb in iter_video_frames(raw, VIDEO_SAMPLE_EVERY):
                    g = PHASH_GRID
                    cells = []
                    for by in range(g):
                        y = by * h // g
                        for bx in range(g):
                            x = bx * w // g
                            cells.append(fb[y * w + x])
                    hi, lo = _grid_bits(cells)
                    out.append((m, f, hi, lo))
            yield pd.DataFrame(
                out, columns=["video_id", "frame_idx", "ahash_hi", "ahash_lo"]
            )

    vh = vids.mapInPandas(frame_hashes, vschema)

    bands = lambda df, idcols: df.select(  # noqa: E731 -- tiny local shaper
        *idcols,
        "ahash_hi",
        "ahash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(
                            F.col("ahash_lo" if i < 2 else "ahash_hi"), (i % 2) * 16
                        )
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bv"),
    ).select(*idcols, "ahash_hi", "ahash_lo", "bv.band", "bv.val")

    ib = bands(img_hashes, ["media_id"]).select(
        F.col("media_id").alias("image_id"),
        F.col("ahash_hi").alias("hi_a"),
        F.col("ahash_lo").alias("lo_a"),
        "band",
        "val",
    )
    vb = bands(vh, ["video_id", "frame_idx"]).select(
        "video_id",
        "frame_idx",
        F.col("ahash_hi").alias("hi_b"),
        F.col("ahash_lo").alias("lo_b"),
        "band",
        "val",
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        ib.join(vb, ["band", "val"])
        .select("image_id", "video_id", "frame_idx", ham.alias("hamming"))
        .filter(F.col("hamming") <= AHASH_TAU)
        .distinct()
        .orderBy("image_id", "video_id", "frame_idx")
    )


# ---------------------------------------------------------------------------
# 17. media_metadata_quality_gate
# ---------------------------------------------------------------------------

QUALITY_DOCS = 96  # 24 rows per declared kind
_KINDS = ("png", "jpeg", "wav", "rvid")


def _quality_params(m: int):
    kind = _KINDS[m % 4]
    corrupt = (m // 4) % 6 == 5
    if kind == "png":
        w, h = 8 + m % 24, 8 + (m * 3) % 24
        return kind, corrupt, (w, h), w * h
    if kind == "jpeg":
        w, h = 16 + m % 32, 16 + m % 16
        return kind, corrupt, (w, h), w * h
    if kind == "wav":
        n = 1000 + (m % 23) * 41
        return kind, corrupt, (n,), n
    w, h, n = 16 + m % 16, 12 + (m * 5) % 12, 8 + m % 9
    return kind, corrupt, (w, h, n), w * h * n


def q_media_metadata_quality_gate(spark, sf_dir: str) -> DataFrame:
    """Typed-metadata completeness audit over a MIXED media corpus: four
    declared kinds (png / marker-only jpeg / wav / rvid), a deterministic
    corrupt slice, one probe pass that tries header parse + full payload
    decode per row, then a per-kind rollup: rows, header-parseable rows,
    payload-complete rows (decoded units == declared units), corrupt
    rows, and the decoded/declared completeness ratio in milli. The
    curation gate a 100 TB ingest runs before trusting ANY media batch:
    marker-only JPEGs (metadata without payload) and truncated rows are
    exactly what it must surface, so both are synthesized in.

    Per-row work is one bounded decode in mapInPandas; the rollup is a
    4-row aggregate."""
    ids = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < QUALITY_DOCS)
        .select(F.col("doc_id").alias("media_id"))
    )
    schema = StructType(
        [
            StructField("kind", StringType(), False),
            StructField("meta_ok", LongType(), False),
            StructField("complete", LongType(), False),
            StructField("corrupt_row", LongType(), False),
            StructField("units_decoded", LongType(), False),
            StructField("units_declared", LongType(), False),
        ]
    )

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid in pdf["media_id"]:
                m = int(mid)
                kind, corrupt, params, declared = _quality_params(m)
                if corrupt:
                    content = b"XXXX" + bytes(32)
                elif kind == "png":
                    content = make_synthetic_png(*params)
                elif kind == "jpeg":
                    content = make_synthetic_jpeg(*params)
                elif kind == "wav":
                    content = make_synthetic_wav(params[0])
                else:
                    content = make_synthetic_video(m, *params)
                meta_ok, decoded = 0, 0
                try:
                    if kind == "png":
                        w, h, ch, px = decode_png(content)
                        meta_ok, decoded = 1, w * h
                    elif kind == "jpeg":
                        jpeg_dimensions(content)
                        meta_ok = 1  # marker-only: header yes, payload no
                    elif kind == "wav":
                        _r, _c, nf, s = decode_wav(content)
                        meta_ok, decoded = 1, len(s)
                    else:
                        w, h, n, _fps = decode_video_header(content)
                        meta_ok = 1
                        decoded = sum(
                            len(fb) for _f, fb in iter_video_frames(content)
                        )
                except (ValueError, struct.error, IndexError):
                    pass
                out.append(
                    (
                        kind,
                        meta_ok,
                        int(meta_ok and decoded == declared),
                        int(corrupt),
                        decoded,
                        declared,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "kind",
                    "meta_ok",
                    "complete",
                    "corrupt_row",
                    "units_decoded",
                    "units_declared",
                ],
            )

    agg = (
        ids.mapInPandas(probe, schema)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("meta_ok").alias("n_meta_ok"),
            F.sum("complete").alias("n_complete"),
            F.sum("corrupt_row").alias("n_corrupt"),
            F.sum("units_decoded").alias("sum_units_decoded"),
            F.sum("units_declared").alias("sum_units_declared"),
        )
    )
    return agg.select(
        "kind",
        "n_rows",
        "n_meta_ok",
        "n_complete",
        "n_corrupt",
        "sum_units_decoded",
        "sum_units_declared",
        # integer div (never a double round-trip): exact in both engines
        F.expr("sum_units_decoded * 1000 div sum_units_declared").alias(
            "completeness_milli"
        ),
    ).orderBy("kind")
