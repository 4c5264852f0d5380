"""Multimodal column plumbing (SURVEY.md §2.F F5).

Image/audio/video ride as opaque ``binary`` columns with a typed metadata
struct alongside. The Spark-side machinery -- schema, Arrow batching
through mapInPandas, partition-friendly layout -- is real and tested, and
``decode_media`` has two tiers:

  - ``fake=True`` (default): a deterministic fake decoder that derives
    width/height/duration from the payload bytes, so pipelines and tests
    exercise the full path reproducibly regardless of payload format.
  - ``fake=False``: REAL metadata decode for the container formats a
    stdlib can parse -- WAV (RIFF header via the ``wave`` module), PNG
    (IHDR chunk), GIF (logical screen descriptor), BMP (BITMAPINFOHEADER)
    and JPEG (SOF marker scan). Formats that need a full codec stack
    (PIL/ffmpeg/soundfile -- not in this container) raise
    NotImplementedError, the honest stub tier.

``wav_bytes`` / ``png_bytes`` build REAL, spec-conformant payloads (PCM
WAV that the stdlib ``wave`` module accepts; zlib-compressed 8-bit
grayscale PNG) so the real tier is exercised end-to-end on genuine media
bytes, not just synthetic markers.

Image near-dup runs one decode -> dHash pass: ``image_dhash`` over PNG
payloads, and ``image_dhash_codec`` over raw pixels, which it first
encodes to PNG inside the same pass.

At 100 TB the binary payloads dominate I/O: keep them in their own
parquet column (never a join key), filter on the metadata struct first so
column pruning skips payload pages for rows the query rejects.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_FIELDS = [
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("decode_status", T.StringType(), True),
]


def attach_media(df: DataFrame, payload_expr, media_type: str = "image/png") -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct.

    ``payload_expr`` is any Column producing binary (in tests: encode(text)
    as a deterministic stand-in for real media bytes).
    """
    payload = payload_expr.cast("binary")
    return df.withColumn("media", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(F.col("media")).cast("long").alias("n_bytes"),
            F.md5(F.col("media")).alias("checksum"),
        ),
    )


# --- real payload encoders (fixture-grade but spec-conformant) ---------------


def wav_bytes(samples: bytes, framerate: int = 8000) -> bytes:
    """A real PCM WAV file: 44-byte RIFF/fmt/data header + 8-bit mono
    samples. Readable by any WAV consumer including the stdlib ``wave``
    module (the real-decode tier parses it back with exactly that)."""
    n = len(samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + n)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, framerate, framerate, 1, 8)
        + b"data"
        + struct.pack("<I", n)
        + samples
    )


def png_bytes(pixels: bytes, width: int) -> bytes:
    """A real 8-bit grayscale PNG: signature + IHDR + zlib IDAT + IEND
    with correct CRCs. ``pixels`` fill rows of ``width``; the last row is
    zero-padded. Height is ``max(1, ceil(len/width))`` so empty input
    still yields a decodable 1-row image."""
    height = max(1, -(-len(pixels) // width))
    padded = pixels.ljust(width * height, b"\x00")

    def chunk(tag: bytes, data: bytes) -> bytes:
        body = tag + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    # one vectorized scatter builds the filter-0 scanline stream (filter
    # byte 0 + row bytes, per row) instead of a per-row Python join --
    # byte-identical raw, so the zlib stream (and every golden payload)
    # is unchanged
    import numpy as np

    scan = np.zeros((height, width + 1), dtype=np.uint8)
    scan[:, 1:] = np.frombuffer(padded, dtype=np.uint8).reshape(height, width)
    raw = scan.tobytes()
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def wav_col(samples: Column, framerate: int = 8000) -> Column:
    """Column of real WAV payloads built from a binary samples column."""

    @F.pandas_udf(T.BinaryType())
    def _enc(s: pd.Series) -> pd.Series:
        return s.map(lambda b: wav_bytes(bytes(b), framerate))

    return _enc(samples)


def png_col(pixels: Column, width: int = 32) -> Column:
    """Column of real grayscale PNG payloads from a binary pixels column."""

    @F.pandas_udf(T.BinaryType())
    def _enc(s: pd.Series) -> pd.Series:
        return s.map(lambda b: png_bytes(bytes(b), width))

    return _enc(pixels)


# --- real metadata decoders (stdlib-only, magic-byte dispatch) ---------------


def _decode_real(data: bytes) -> tuple[int | None, int | None, int | None, str]:
    """(width, height, duration_ms, status) from real container headers.

    Dispatches on magic bytes the way a real decoder front-end sniffs
    content type; raises NotImplementedError for formats that need a full
    codec stack (the honest stub boundary)."""
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(data)) as w:
            frames, rate = w.getnframes(), w.getframerate()
        return None, None, frames * 1000 // rate, "ok:wav"
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        if data[12:16] != b"IHDR":
            raise ValueError("PNG missing IHDR")
        width, height = struct.unpack(">II", data[16:24])
        return width, height, None, "ok:png"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        width, height = struct.unpack("<HH", data[6:10])
        return width, height, None, "ok:gif"
    if data[:2] == b"BM":
        hdr_size = struct.unpack("<I", data[14:18])[0]
        if hdr_size >= 40:  # BITMAPINFOHEADER
            width, height = struct.unpack("<ii", data[18:26])
            return width, abs(height), None, "ok:bmp"
        width, height = struct.unpack("<HH", data[18:22])  # BITMAPCOREHEADER
        return width, height, None, "ok:bmp"
    if data[:2] == b"\xff\xd8":  # JPEG: scan markers for a SOF segment
        i = 2
        while i + 9 <= len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                height, width = struct.unpack(">HH", data[i + 5 : i + 9])
                return width, height, None, "ok:jpeg"
            i += 2 + seg_len
        raise ValueError("JPEG without SOF marker")
    raise NotImplementedError(
        "payload is not a stdlib-decodable container (WAV/PNG/GIF/BMP/JPEG); "
        "a full decode needs PIL/ffmpeg/soundfile -- not in this container"
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake 'decode': dimensions derived from content bytes."""
    n = len(payload)
    width = 16 + (payload[0] if n else 0)
    height = 16 + (payload[-1] if n else 0)
    duration = n * 10
    return width, height, duration


def decode_media(
    df: DataFrame, payload_col: str = "media", fake: bool = True, batch_hint: int = 0
) -> DataFrame:
    """Decode/feature-extract media payloads via Arrow-batched mapInPandas.

    ``fake=True``: deterministic fake decode (payload-derived dims), any
    bytes accepted. ``fake=False``: REAL header decode via
    :func:`_decode_real` -- WAV duration through the stdlib ``wave``
    module, PNG/GIF/BMP/JPEG dimensions from their container headers;
    non-stdlib formats raise NotImplementedError (honest stub tier).
    Malformed payloads of a recognized format become ``error:`` status
    rows (the skip-bad-record posture), they never fail the stage.
    Narrow stage: scales with input partitions, no shuffle.
    """
    keep_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(keep_fields + DECODED_FIELDS)
    keep = [f.name for f in keep_fields]

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            widths, heights, durations, statuses = [], [], [], []
            for payload in pdf[payload_col]:
                data = bytes(payload)
                try:
                    if fake:
                        w, h, d = _fake_decode(data)
                        s = "ok"
                    else:
                        w, h, d, s = _decode_real(data)
                    widths.append(w), heights.append(h), durations.append(d)
                    statuses.append(s)
                except NotImplementedError:
                    raise
                except Exception as exc:
                    widths.append(None), heights.append(None), durations.append(None)
                    statuses.append(f"error: {exc}")
            out["width"] = pd.array(widths, dtype="Int32")
            out["height"] = pd.array(heights, dtype="Int32")
            out["duration_ms"] = pd.array(durations, dtype="Int64")
            out["decode_status"] = statuses
            yield out

    return df.mapInPandas(_decode, out_schema)


def sample_frames(
    df: DataFrame,
    payload_col: str = "media",
    frame_bytes: int = 64,
    every_nth: int = 4,
) -> DataFrame:
    """Frame sampling for video/audio payloads (decode stand-in).

    Treats the binary payload as a sequence of ``frame_bytes`` chunks
    ("frames"), keeps every ``every_nth`` one, and emits per-row
    (n_frames, n_sampled, frame_checksums). A real codec would replace
    the chunking with actual frame extraction; the Arrow batch shape,
    output schema, and partition behavior (narrow stage, no shuffle) are
    exactly what the real thing needs.
    """
    import hashlib

    keep_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        keep_fields
        + [
            T.StructField("n_frames", T.IntegerType(), True),
            T.StructField("n_sampled", T.IntegerType(), True),
            T.StructField("frame_checksums", T.ArrayType(T.StringType()), True),
        ]
    )
    keep = [f.name for f in keep_fields]

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            n_frames, n_sampled, checksums = [], [], []
            for payload in pdf[payload_col]:
                data = bytes(payload)
                nf = (len(data) + frame_bytes - 1) // frame_bytes
                picked = [
                    hashlib.md5(
                        data[i * frame_bytes : (i + 1) * frame_bytes]
                    ).hexdigest()
                    for i in range(0, nf, every_nth)
                ]
                n_frames.append(nf)
                n_sampled.append(len(picked))
                checksums.append(picked)
            out["n_frames"] = pd.array(n_frames, dtype="Int32")
            out["n_sampled"] = pd.array(n_sampled, dtype="Int32")
            out["frame_checksums"] = checksums
            yield out

    return df.mapInPandas(_sample, out_schema)


def resize_media(
    df: DataFrame, payload_col: str = "media", target_pixels: int = 256
) -> DataFrame:
    """Resize stand-in for image payloads: stride-sample the payload down
    to <= ``target_pixels`` bytes (a real implementation swaps the stride
    loop for PIL's resample; schema, Arrow batching, and the narrow
    no-shuffle stage are identical). Emits the resized size and a
    checksum of the resized bytes so downstream dedup can run on
    thumbnails instead of full payloads.
    """
    import hashlib

    keep_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        keep_fields
        + [
            T.StructField("orig_bytes", T.LongType(), True),
            T.StructField("resized_bytes", T.IntegerType(), True),
            T.StructField("resized_checksum", T.StringType(), True),
        ]
    )
    keep = [f.name for f in keep_fields]

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            orig, rb, ck = [], [], []
            for payload in pdf[payload_col]:
                data = bytes(payload)
                n = len(data)
                stride = max(n // target_pixels, 1)
                resized = data[::stride][:target_pixels]
                orig.append(n)
                rb.append(len(resized))
                ck.append(hashlib.md5(resized).hexdigest())
            out["orig_bytes"] = pd.array(orig, dtype="Int64")
            out["resized_bytes"] = pd.array(rb, dtype="Int32")
            out["resized_checksum"] = ck
            yield out

    return df.mapInPandas(_resize, out_schema)


def window_energy(
    df: DataFrame,
    payload_col: str = "media",
    window_bytes: int = 32,
    hop_bytes: int = 16,
) -> DataFrame:
    """Windowed energy extraction for audio payloads (feature stand-in).

    Treats the binary payload as PCM-ish samples and computes the
    summed byte value per ``window_bytes`` window at ``hop_bytes`` hop
    -- the shape of a real STFT/energy front-end: overlapping windows,
    one feature row per window, integer arithmetic. Emits per-row
    (n_windows, energy_digest, max_energy, max_energy_win). A real
    audio codec would replace the byte sum with the actual frame
    transform; the Arrow batch shape, overlap logic, and narrow-stage
    partition behavior carry over unchanged.
    """
    import hashlib

    keep_fields = [f for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        keep_fields
        + [
            T.StructField("n_windows", T.IntegerType(), True),
            T.StructField("energy_digest", T.StringType(), True),
            T.StructField("max_energy", T.LongType(), True),
            T.StructField("max_energy_win", T.IntegerType(), True),
        ]
    )
    keep = [f.name for f in keep_fields]

    def _energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[keep].copy()
            n_windows, digests, maxes, argmaxes = [], [], [], []
            for payload in pdf[payload_col]:
                data = bytes(payload)
                energies = []
                i = 0
                while i < len(data):
                    energies.append(sum(data[i : i + window_bytes]))
                    i += hop_bytes
                n_windows.append(len(energies))
                digests.append(
                    hashlib.md5(",".join(str(e) for e in energies).encode()).hexdigest()
                )
                if energies:
                    best = max(range(len(energies)), key=lambda j: (energies[j], -j))
                    maxes.append(energies[best])
                    argmaxes.append(best)
                else:
                    maxes.append(0)
                    argmaxes.append(-1)
            out["n_windows"] = pd.array(n_windows, dtype="Int32")
            out["energy_digest"] = digests
            out["max_energy"] = pd.array(maxes, dtype="Int64")
            out["max_energy_win"] = pd.array(argmaxes, dtype="Int32")
            yield out

    return df.mapInPandas(_energy, out_schema)


def decode_png_pixels(data: bytes) -> tuple[int, int, bytes]:
    """FULL grayscale PNG decode (stdlib zlib): (width, height, pixels).

    Supports the 8-bit grayscale, filter-0 PNGs this repo's ``png_bytes``
    emits and any other conforming encoder produces for that subset;
    non-zero row filters (sub/up/average/paeth) are reconstructed per the
    PNG spec, so arbitrary single-channel images decode correctly."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    width, height = struct.unpack(">II", data[16:24])
    bit_depth, color_type = data[24], data[25]
    if bit_depth != 8 or color_type != 0:
        raise NotImplementedError("only 8-bit grayscale PNG decode supported")
    idat = b""
    i = 8
    while i + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[i : i + 4])
        tag = data[i + 4 : i + 8]
        if tag == b"IDAT":
            idat += data[i + 8 : i + 8 + ln]
        if tag == b"IEND":
            break
        i += 12 + ln
    raw = zlib.decompress(idat)
    stride = width + 1
    # fast path (r15): every PNG this repo's encoder emits -- and most
    # small grayscale images -- uses filter 0 on every row, where
    # reconstruction is just dropping the filter-byte column; one
    # vectorized slice replaces the per-row Python loop. Any non-zero
    # filter falls through to the spec-complete loop below.
    if width > 0 and len(raw) == height * stride:
        import numpy as np

        arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
        if not arr[:, 0].any():
            return width, height, arr[:, 1:].tobytes()
    out = bytearray()
    prev = bytearray(width)
    for y in range(height):
        row = bytearray(raw[y * stride + 1 : (y + 1) * stride])
        flt = raw[y * stride]
        if flt == 1:  # sub
            for x in range(1, width):
                row[x] = (row[x] + row[x - 1]) & 0xFF
        elif flt == 2:  # up
            for x in range(width):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif flt == 3:  # average
            for x in range(width):
                left = row[x - 1] if x else 0
                row[x] = (row[x] + (left + prev[x]) // 2) & 0xFF
        elif flt == 4:  # paeth
            for x in range(width):
                a = row[x - 1] if x else 0
                b, c = prev[x], (prev[x - 1] if x else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        elif flt != 0:
            raise ValueError(f"unknown PNG filter {flt}")
        out += row
        prev = row
    return width, height, bytes(out)


def dhash64(width: int, height: int, pixels: bytes) -> int:
    """64-bit difference hash (dHash) of a grayscale image: point-sample
    a 9x8 grid (px = gx*width//9, py = gy*height//8) and set bit
    gy*8+gx iff grid[gx+1] > grid[gx] -- the standard perceptual
    fingerprint for image near-dup detection (identical content under
    re-encode/minor edits lands at small Hamming distance)."""
    h = 0
    for gy in range(8):
        py = gy * height // 8
        row = [
            pixels[py * width + (gx * width // 9)] for gx in range(9)
        ]
        for gx in range(8):
            if row[gx + 1] > row[gx]:
                h |= 1 << (gy * 8 + gx)
    return h


def _dhash_pass(df: DataFrame, col: str, id_col: str, to_png) -> DataFrame:
    """One Arrow-batched narrow pass: ``to_png`` turns each ``col`` value
    into PNG bytes, which are fully decoded and dHashed. Returns (id,
    width, height, dhash_hi, dhash_lo)."""
    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            # 64-bit hash split into two unsigned 32-bit halves: bit 63
            # would overflow a signed LongType, and two BIGINTs replay
            # cleanly in ANSI SQL
            T.StructField("dhash_hi", T.LongType(), True),
            T.StructField("dhash_lo", T.LongType(), True),
        ]
    )

    def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, his, los = [], [], [], []
            for value in pdf[col]:
                w, h, px = decode_png_pixels(to_png(bytes(value)))
                ws.append(w)
                hs.append(h)
                d = dhash64(w, h, px)
                his.append(d >> 32)
                los.append(d & 0xFFFFFFFF)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": ws,
                    "height": hs,
                    "dhash_hi": his,
                    "dhash_lo": los,
                }
            )

    return df.select(id_col, col).mapInPandas(_dhash, out_schema)


def image_dhash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-image 64-bit dHash over REAL PNG payloads: full zlib decode ->
    9x8 grid -> difference bits, one Arrow-batched narrow pass (the
    image half of the multimodal dedup funnel; pair generation on the
    hash is a plain groupBy downstream). Returns (id, width, height,
    dhash_hi, dhash_lo)."""
    return _dhash_pass(df, payload_col, id_col, lambda payload: payload)


def image_dhash_codec(
    df: DataFrame,
    pixels_col: str = "pixels",
    id_col: str = "doc_id",
    width: int = 32,
) -> DataFrame:
    """``png_col`` + ``image_dhash`` FUSED into one Arrow pass: encode the
    pixel bytes to a real PNG (``png_bytes``), full-decode it back
    (``decode_png_pixels``), and dHash the recovered pixels -- the exact
    same codec round-trip and results as the two-stage composition, but
    the PNG payload never crosses the JVM<->Python boundary. The split
    shape shipped every encoded payload Python->JVM->Python between the
    two stages (two Arrow (de)serializations of the heaviest column for
    zero benefit -- guide §4.1/§8: only the tiny hash rows need to come
    back). Returns (id, width, height, dhash_hi, dhash_lo)."""
    return _dhash_pass(df, pixels_col, id_col, lambda pixels: png_bytes(pixels, width))
