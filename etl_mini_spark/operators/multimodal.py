"""Multimodal-column conventions: image/audio/video as opaque ``binary``
columns plus a typed metadata struct, processed via Arrow-batched
``mapInPandas`` so the (real, heavy) decoders stream batch-by-batch and
never materialize a partition in memory.

Two kernel tiers (round-13 split):

- REAL, pure-stdlib kernels — `parse_media_header` (PNG IHDR / JPEG
  SOF walk / GIF logical screen / WAV / ftyp detection: real dims, no
  PIL needed), `decode_png_pixels` (zlib inflate + scanline unfilter),
  and the operators built on them (`decode_media_real`,
  `resize_media_real`, `extract_features_real`).
- Legacy STUB kernels (`_fake_decode`, and `decode_media` and
  `frame_sample`, which replay its formulas) kept for the earlier
  registered differentials; a real Pillow/torchaudio call drops into
  the same batch shape for formats the stdlib can't decode (lossy JPEG
  pixels, audio samples).

Metadata derivation (size/sha256) is JVM-side.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str, out_col: str = "payload") -> DataFrame:
    """Encode a string column to a binary payload column — stands in for
    reading real media bytes (`spark.read.format("binaryFile")` in
    production)."""
    return df.withColumn(out_col, F.encode(F.col(text_col), "UTF-8"))


def _fake_decode(data: bytes) -> tuple[int, int, int]:
    """STUB decoder: deterministic dimensions derived from byte length.

    Replace with e.g. PIL.Image.open(io.BytesIO(data)).size — the
    surrounding plumbing (batch iteration, schema, null handling) is the
    real, tested part."""
    n = len(data)
    return n % 640 + 1, (n * 7) % 480 + 1, n % 16 + 1


def parse_media_header(data: bytes) -> tuple[str | None, int | None, int | None]:
    """REAL (format, width, height) from media container headers, pure
    Python — no PIL needed for dimensions (round-12 verdict item):

    - PNG: 8-byte magic, then the IHDR chunk's big-endian u32 pair at
      byte offsets 16/20 (only if the chunk tag at 12..15 really is
      IHDR — magic-only blobs report format with NULL dims).
    - JPEG: FFD8 then a marker walk; dims live in the first SOF0/1/2
      segment (height BE u16 at seg+5, width at seg+7). Spec-legal
      0xFF fill bytes before a marker are skipped one at a time (the
      second FF becomes the new marker prefix), so padded JPEGs walk
      correctly. The walk stops at SOS (entropy-coded data follows —
      dims NULL if no SOF seen), on a segment length < 2, or at
      end-of-bytes.
    - GIF87a/89a: logical-screen little-endian u16 pair at offsets 6/8.
    - RIFF/WAVE and ISO-BMFF ftyp report format only (audio has no
      dims; real video dims live in codec boxes out of scope here).

    Unknown containers return (None, None, None)."""
    n = len(data)
    if n >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n":
        if data[12:16] == b"IHDR":
            w = int.from_bytes(data[16:20], "big")
            h = int.from_bytes(data[20:24], "big")
            return "png", w, h
        return "png", None, None
    if n >= 2 and data[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= n:
            if data[pos] != 0xFF:
                break
            marker = data[pos + 1]
            if marker == 0xFF:  # fill byte: next FF is the marker prefix
                pos += 1
                continue
            if marker == 0xDA:  # SOS: entropy data follows, stop
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
                pos += 2
                continue
            seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
            if seglen < 2:
                break
            if marker in (0xC0, 0xC1, 0xC2) and pos + 9 <= n:
                h = int.from_bytes(data[pos + 5 : pos + 7], "big")
                w = int.from_bytes(data[pos + 7 : pos + 9], "big")
                return "jpeg", w, h
            pos += 2 + seglen
        return "jpeg", None, None
    if n >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(data[6:8], "little")
        h = int.from_bytes(data[8:10], "little")
        return "gif", w, h
    if n >= 16 and data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav", None, None
    if n >= 12 and data[4:8] == b"ftyp":
        return "mp4", None, None
    return None, None, None


def parse_wav_fmt(data: bytes) -> tuple[int | None, int | None, int | None]:
    """REAL (sample_rate, channels, bits_per_sample) from a RIFF/WAVE
    fmt chunk, pure Python: walks the chunk list (4-byte tag + LE u32
    size, word-aligned) to the first ``fmt `` chunk and reads the PCM
    fields at their fixed little-endian offsets. Non-WAV or truncated
    payloads return (None, None, None)."""
    n = len(data)
    if n < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None, None, None
    pos = 12
    while pos + 8 <= n:
        tag = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        if tag == b"fmt " and size >= 16 and pos + 8 + 16 <= n:
            body = data[pos + 8 : pos + 24]
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            return rate, channels, bits
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    return None, None, None


def decode_media_real(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """Header-parsed media metadata over Arrow batches: (id, format,
    width, height, n_bytes). Same mapInPandas plumbing as decode_media
    but the kernel is `parse_media_header` — REAL dims from real bytes,
    replacing the _fake_decode stub for formats whose dimensions live
    in the container header."""
    from etl_mini_spark.session import spread

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("format", T.StringType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, nb = [], [], [], []
            for p in pdf[payload_col]:
                if p is None:
                    fmts.append(None); ws.append(None); hs.append(None); nb.append(None)
                    continue
                b = bytes(p)
                f, w, h = parse_media_header(b)
                fmts.append(f); ws.append(w); hs.append(h); nb.append(len(b))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "format": fmts, "width": ws, "height": hs, "n_bytes": nb}
            )

    return spread(df.select(id_col, payload_col)).mapInPandas(process, out_schema)


def decode_png_pixels(data: bytes):
    """REAL PNG pixel decode, pure stdlib: concatenated IDAT chunks →
    zlib.decompress → per-scanline unfilter (types 0 None, 1 Sub, 2 Up,
    3 Average, 4 Paeth). Supports 8-bit gray (color 0), RGB (2) and
    RGBA (6), non-interlaced. Returns a numpy uint8 array [h, w, ch].
    Raises ValueError on anything else — ALL malformed-input failures
    (short IHDR body, corrupt IDAT zlib stream, truncated scanlines)
    are re-raised as ValueError so callers NULL the row rather than
    crash the task."""
    import zlib

    try:
        return _decode_png_pixels(data, zlib)
    except (IndexError, zlib.error) as exc:
        raise ValueError(f"malformed PNG: {exc}") from exc


def _decode_png_pixels(data: bytes, zlib):
    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, w = 8, b"", None
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w = int.from_bytes(body[0:4], "big")
            h = int.from_bytes(body[4:8], "big")
            bit_depth, color = body[8], body[9]
            interlace = body[12]
            if bit_depth != 8 or color not in (0, 2, 6) or interlace != 0:
                raise ValueError(f"unsupported PNG (depth={bit_depth}, color={color})")
            ch = {0: 1, 2: 3, 6: 4}[color]
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + ln  # len + tag + body + crc
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(idat)
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel payload truncated")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1).copy()
        if ft == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (int(line[x]) + int(line[x - ch])) & 0xFF
        elif ft == 2:  # Up
            line = (line.astype(np.int32) + prev) % 256
            line = line.astype(np.uint8)
        elif ft == 3:  # Average
            for x in range(stride):
                a = int(line[x - ch]) if x >= ch else 0
                line[x] = (int(line[x]) + (a + int(prev[x])) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                a = int(line[x - ch]) if x >= ch else 0
                b_, c_ = int(prev[x]), int(prev[x - ch]) if x >= ch else 0
                p = a + b_ - c_
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c_)
                pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c_)
                line[x] = (int(line[x]) + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter {ft}")
        out[y] = line
        prev = out[y]
    return out.reshape(h, w, ch)


def resize_media_real(
    df: DataFrame,
    id_col: str,
    payload_col: str = "payload",
    target_w: int = 8,
    target_h: int = 8,
) -> DataFrame:
    """REAL nearest-neighbor resize over decoded PNG pixels: (id, width,
    height, out_md5) where out_md5 digests the resized pixel buffer
    (row-major, channel-interleaved). Non-PNG / undecodable payloads
    yield NULL dims+digest (plumbing passes the row through). Source
    pixel for output (i, j) is (floor(i·H/th), floor(j·W/tw)) — pure
    integer index math, bit-deterministic."""
    import hashlib as _hl

    from etl_mini_spark.session import spread

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("out_md5", T.StringType()),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ws, hs, digs = [], [], []
            for p in pdf[payload_col]:
                try:
                    px = decode_png_pixels(bytes(p)) if p is not None else None
                except ValueError:
                    px = None
                if px is None:
                    ws.append(None); hs.append(None); digs.append(None)
                    continue
                h, w = px.shape[:2]
                yi = (np.arange(target_h) * h) // target_h
                xi = (np.arange(target_w) * w) // target_w
                small = px[yi][:, xi]
                ws.append(target_w); hs.append(target_h)
                digs.append(_hl.md5(small.tobytes()).hexdigest())
            yield pd.DataFrame({id_col: pdf[id_col], "width": ws, "height": hs, "out_md5": digs})

    return spread(df.select(id_col, payload_col)).mapInPandas(process, out_schema)


def extract_features_real(
    df: DataFrame, id_col: str, payload_col: str = "payload", bins: int = 16
) -> DataFrame:
    """REAL image features from decoded PNG pixels: integer luma
    histogram, one row per (id, bin, cnt). Luma is the exact integer
    (299·R + 587·G + 114·B) // 1000 (gray images use the single
    channel), binned as luma // (256 // bins) — all-integer, so the
    differential carries no float noise. ``bins`` must divide 256
    evenly (otherwise the top bins would silently drop pixels).
    Undecodable payloads emit no rows."""
    from etl_mini_spark.session import spread

    if bins <= 0 or 256 % bins != 0:
        raise ValueError(f"bins must be a positive divisor of 256, got {bins}")

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("bin", T.IntegerType()),
            T.StructField("cnt", T.LongType()),
        ]
    )
    width = 256 // bins

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, bs, cs = [], [], []
            for rid, p in zip(pdf[id_col], pdf[payload_col]):
                try:
                    px = decode_png_pixels(bytes(p)) if p is not None else None
                except ValueError:
                    px = None
                if px is None:
                    continue
                if px.shape[2] == 1:
                    luma = px[:, :, 0].astype(np.int64)
                else:
                    r = px[:, :, 0].astype(np.int64)
                    g = px[:, :, 1].astype(np.int64)
                    b = px[:, :, 2].astype(np.int64)
                    luma = (299 * r + 587 * g + 114 * b) // 1000
                hist = np.bincount((luma // width).ravel(), minlength=bins)
                for i in range(bins):
                    if hist[i]:
                        ids.append(rid); bs.append(i); cs.append(int(hist[i]))
            yield pd.DataFrame(
                {id_col: pd.array(ids, dtype="Int64"), "bin": bs, "cnt": cs}
            )

    return spread(df.select(id_col, payload_col)).mapInPandas(process, out_schema)


def decode_media(df: DataFrame, id_col: str, payload_col: str = "payload") -> DataFrame:
    """mapInPandas media decode: (id, n_bytes, sha256, width, height,
    n_frames). Batches arrive as Arrow; one Python roundtrip per batch,
    not per row."""
    from etl_mini_spark.session import spread

    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType())] + list(MEDIA_META_SCHEMA.fields)
    )
    df = spread(df)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf[payload_col]
            dims = [_fake_decode(bytes(p)) if p is not None else (None, None, None) for p in payloads]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [len(bytes(p)) if p is not None else None for p in payloads],
                    "sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() if p is not None else None
                        for p in payloads
                    ],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_frames": [d[2] for d in dims],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(process, out_schema)


def frame_sample(df: DataFrame, id_col: str, payload_col: str = "payload", every: int = 4) -> DataFrame:
    """STUB frame sampler: emits one row per sampled 'frame' (deterministic
    fake: frame index + a byte-slice hash). Real impl would demux video
    via PyAV inside the same mapInPandas shape."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_sha", T.StringType()),
        ]
    )

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for rid, p in zip(pdf[id_col], pdf[payload_col]):
                if p is None:
                    continue
                data = bytes(p)
                n_frames = len(data) % 16 + 1
                for i in range(0, n_frames, every):
                    ids.append(rid)
                    idxs.append(i)
                    shas.append(hashlib.sha256(data[i : i + 32]).hexdigest())
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame_sha": shas})

    return df.select(id_col, payload_col).mapInPandas(process, out_schema)
