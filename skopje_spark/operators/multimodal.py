"""Multimodal columns (SURVEY.md §2C D5): opaque binary payloads with
typed metadata, processed by Arrow-batched pandas functions.

Container constraint: no image/audio codec *libraries* are installed.
The kernels are therefore tiered: REAL pure-stdlib/numpy codecs that
run everywhere — a struct-level BMP codec, a full PNG codec (zlib
DEFLATE + all five scanline filters), and an animated-GIF codec
(variable-width LZW, frame compositing) covering the multi-frame /
video-shaped tier; encode, header decode, pixel reconstruction, and
resize for each — plus an env-gated PIL kernel for the remaining
compressed formats (JPEG/WebP/...) and a deterministic stub fallback
for opaque payloads.
Everything Spark-side is real and tested regardless of tier: schema,
binary source, partition sizing, ``mapInPandas`` batch shape, and
metadata extraction.

Scale notes:
- payloads stay in executor memory as Arrow binary columns — never
  collected, never round-tripped through Python row-at-a-time;
- ``spark.sql.files.maxPartitionBytes`` bounds per-task bytes for the
  ``binaryFile`` source; for row-group parquet payloads the same knob
  applies to the scan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# metadata struct carried alongside every binary payload
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("sha256", T.StringType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Build a multimodal-shaped table from the documents fixture:
    payload = utf-8 bytes of the text (stand-in for image/audio bytes)
    + typed metadata struct."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("application/octet-stream").alias("media_type"),
            F.octet_length(payload).cast("long").alias("byte_len"),
            F.sha2(payload, 256).alias("sha256"),
        ),
    )


def decode_media_batch(payloads: pd.Series) -> pd.DataFrame:
    """STUB decode kernel — deterministic fake dimensions derived from
    the payload bytes (a real deployment would call PIL/ffmpeg here;
    those codecs are not installed in this container).

    The fake is pure arithmetic on byte length and first byte so tests
    (and the SQL oracle) can verify the full plumbing end-to-end.
    """
    byte_len = payloads.apply(len).astype("int64")
    first = payloads.apply(lambda b: b[0] if len(b) else 0).astype("int64")
    return pd.DataFrame(
        {
            "byte_len": byte_len,
            "width": (first % 64 + 1).astype("int32") * 16,
            "height": ((byte_len % 64) + 1).astype("int32") * 16,
            "n_frames": ((byte_len % 8) + 1).astype("int32"),
        }
    )


def _pil():  # pragma: no cover - container has no codecs
    """Feature-detect a real image codec once per process."""
    try:
        from PIL import Image  # noqa: F401

        return Image
    except ImportError:
        return None


HAVE_CODECS = _pil() is not None


def decode_media_real(payloads: pd.Series) -> pd.DataFrame:
    """Real codec decode: PIL when available (width/height from the
    actual image header, n_frames from the container), otherwise
    raises — callers choose it via ``decode_media(real=True)``, which
    feature-checks first.

    STATUS — unverified by environment: PIL is not installable in
    this sandbox (no-install policy; retried and closed in round 7),
    so this compressed-format tier (JPEG/PNG/...) has never executed
    here and its two tests are env-gated skips. Treat it as
    EXPERIMENTAL until run where PIL exists. The verified honest-
    kernel coverage is the uncompressed tier: the pure-struct BMP
    codec below and the WAV/PCM16 codec in operators/audio.py, both
    oracle-checked with closed-form binary fixtures."""
    Image = _pil()
    if Image is None:  # pragma: no cover - exercised only with codecs
        raise NotImplementedError(
            "media codecs (PIL/ffmpeg) are not available in this environment; "
            "decode_media(real=False) uses the deterministic stub kernel"
        )
    import io  # pragma: no cover - below runs only with codecs installed

    def one(b):
        with Image.open(io.BytesIO(bytes(b))) as im:
            return len(b), im.width, im.height, getattr(im, "n_frames", 1)

    rows = [one(b) for b in payloads]
    return pd.DataFrame(
        rows, columns=["byte_len", "width", "height", "n_frames"]
    ).astype({"width": "int32", "height": "int32", "n_frames": "int32"})


def decode_media(df: DataFrame, id_col: str = "doc_id",
                 real: bool | None = None) -> DataFrame:
    """Arrow-batched decode over ``mapInPandas``: batches stream
    through Python with zero row-at-a-time overhead; output schema is
    fixed (DECODED_SCHEMA) so downstream plans stay columnar.

    ``real=None`` auto-selects: the PIL kernel when codecs exist in
    the environment, otherwise the sniffing kernel that REALLY decodes
    BMP and PNG headers (pure stdlib — works in this container) and
    falls back to the deterministic stub arithmetic for other
    payloads. Forcing
    ``real=True`` without codecs raises up front (on the driver), not
    per-task on executors."""
    if real is None:
        real = HAVE_CODECS
    if real and _pil() is None:
        raise NotImplementedError(
            "decode_media(real=True) requires PIL, which is not installed"
        )
    kernel = decode_media_real if real else decode_media_bmp

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = kernel(pdf["payload"])
            out.insert(0, "doc_id", pdf[id_col].astype("int64").values)
            yield out[[f.name for f in DECODED_SCHEMA.fields]]

    return df.select(F.col(id_col), "payload").mapInPandas(
        run, schema=DECODED_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def resize_media(df: DataFrame, *, width: int = 32, height: int = 32,
                 id_col: str = "doc_id") -> DataFrame:
    """Resize over ``mapInPandas``. BMP payloads get a REAL
    nearest-neighbor resample (decode → integer-index remap →
    re-encode, see :func:`resize_bmp` — no codec libraries needed);
    other payloads fall back to the stub truncate/pad kernel (a full
    deployment swaps in PIL.Image.resize). Arrow batching, fixed
    output schema, payloads never touching the driver — the Spark
    plumbing is identical either way."""
    target = width * height

    def _one(raw) -> bytes:
        b = bytes(raw)
        if is_bmp(b):
            try:
                return resize_bmp(b, width, height)
            except ValueError:
                # sniffed as BMP but not pixel-decodable (non-24bpp,
                # truncated pixel data): degrade to the stub kernel
                # instead of failing the whole task
                pass
        if is_png(b):
            try:
                return resize_png(b, width, height)
            except ValueError:
                pass  # malformed scanlines: stub fallback, same policy
        from skopje_spark.operators.jpeg import (
            encode_jpeg,
            is_jpeg,
            jpeg_pixels,
        )

        if is_jpeg(b):
            try:
                import numpy as np

                px = jpeg_pixels(b)
                h0, w0 = px.shape[:2]
                yi = (np.arange(height) * h0) // height
                xi = (np.arange(width) * w0) // width
                out = px[yi][:, xi]
                return encode_jpeg(out[:, :, 0] if out.shape[2] == 1 else out)
            except ValueError:
                pass  # non-baseline: stub fallback
        return b[:target].ljust(target, b"\0")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "payload": pdf["payload"].apply(_one),
                    "width": width,
                    "height": height,
                }
            )

    return df.select(F.col(id_col), "payload").mapInPandas(
        run, schema=RESIZED_SCHEMA
    )


def sample_frames(df: DataFrame, *, every_n: int = 2,
                  id_col: str = "doc_id") -> DataFrame:
    """Frame sampling over a one-to-many ``mapInPandas`` expansion —
    the shape real video frame-sampling has (one input row, k output
    rows, no driver involvement). Animated-GIF payloads take the REAL
    tier: every ``every_n``-th frame is LZW-decoded
    (:func:`gif_frames`) and re-emitted as a standalone PNG (the two
    real codecs composed — downstream image ops consume sampled frames
    like any still). Other payloads keep the deterministic byte-slice
    stub (a full deployment swaps in ffmpeg here)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, chunks = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                b = bytes(payload)
                if is_gif(b):
                    try:
                        frames = gif_frames(b)
                        for fno in range(0, len(frames), every_n):
                            ids.append(int(doc_id))
                            nos.append(fno)
                            chunks.append(encode_png(frames[fno]))
                        continue
                    except ValueError:
                        pass  # corrupt stream: stub fallback, same policy
                n_frames = (len(b) % 8) + 1  # decode-stub arithmetic
                step = max(len(b) // n_frames, 1)
                for fno in range(0, n_frames, every_n):
                    ids.append(int(doc_id))
                    nos.append(fno)
                    chunks.append(b[fno * step:(fno + 1) * step])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_no": nos, "frame_bytes": chunks}
            )

    return df.select(F.col(id_col), "payload").mapInPandas(
        run, schema=FRAME_SCHEMA
    )


def extract_features(df: DataFrame, *, dim: int = 16,
                     id_col: str = "doc_id") -> DataFrame:
    """STUB feature extraction: a deterministic byte-histogram
    embedding (real deployments swap in a vision/audio encoder). The
    output column is ``array<float>`` — exactly what the similarity
    operators consume, closing the multimodal → embedding →
    dedup/search loop inside the engine."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                if arr.size == 0:
                    feats.append([0.0] * dim)
                    continue
                hist, _ = np.histogram(arr % dim, bins=dim, range=(0, dim))
                v = hist.astype("float64")
                n = float(np.linalg.norm(v))
                feats.append((v / n if n else v).tolist())
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].astype("int64"), "embedding": feats}
            )

    return df.select(F.col(id_col), "payload").mapInPandas(
        run, schema="doc_id long, embedding array<float>"
    )


# --- real BMP kernel (pure struct+numpy — no codec libraries) --------
#
# BMP (24bpp uncompressed) is simple enough to encode/decode with
# stdlib struct and numpy, which upgrades the decode/resize path from
# "deterministic fake" to a REAL image codec that runs in this
# container. decode_media / resize_media sniff the payload header and
# use the real kernel for BMP payloads, the stub for everything else;
# PIL (when installed) still covers compressed formats.

import struct as _struct

_BMP_HEADER_LEN = 54  # BITMAPFILEHEADER (14) + BITMAPINFOHEADER (40)


def _bmp_row_size(width: int) -> int:
    return (3 * width + 3) // 4 * 4  # 24bpp rows padded to 4 bytes


def bmp_pattern(width: int, height: int, seed: int = 0):
    """Deterministic test pattern (top-down h×w×3, BGR): every pixel is
    closed-form arithmetic on (x, y, seed), so any consumer — a unit
    test or a SQL oracle — can recompute pixels without the file."""
    import numpy as np

    xx, yy = np.meshgrid(np.arange(width), np.arange(height))
    b = (xx + yy + 3 * seed) % 256
    g = (3 * xx + 5 * yy + 2 * seed) % 256
    r = (7 * xx + 13 * yy + seed) % 256
    return np.stack([b, g, r], axis=-1).astype("uint8")


def encode_bmp(pixels) -> bytes:
    """Encode a top-down h×w×3 BGR uint8 array as a real 24bpp BMP."""
    import numpy as np

    px = np.asarray(pixels, dtype="uint8")
    h, w = px.shape[:2]
    row_size = _bmp_row_size(w)
    img_size = row_size * h
    head = _struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER_LEN + img_size, 0, 0, _BMP_HEADER_LEN
    )
    info = _struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    padded = np.zeros((h, row_size), dtype="uint8")
    padded[:, : 3 * w] = px.reshape(h, 3 * w)
    return head + info + padded[::-1].tobytes()  # BMP stores bottom-up


def make_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """A real BMP file of the deterministic test pattern."""
    return encode_bmp(bmp_pattern(width, height, seed))


def is_bmp(b: bytes) -> bool:
    """Sniff on magic + plausible header, not on bfSize equality.

    Real-world encoders commonly write 0 or a padded value into the
    bfSize field, so requiring ``declared == len(b)`` (the old strict
    rule) silently routed genuine BMPs to the stub kernel. The sniff
    now accepts any payload whose magic, DIB header, pixel-data offset
    and bpp are coherent and whose (uncompressed) pixel data fits in
    the buffer — which is exactly what :func:`bmp_pixels` needs to
    decode it. bfSize is ignored entirely; payloads this repo
    generates (:func:`encode_bmp`) still carry the exact value.
    """
    if len(b) < _BMP_HEADER_LEN or b[:2] != b"BM":
        return False
    (offset,) = _struct.unpack("<I", b[10:14])
    hdr_size, w, h, planes, bpp = _struct.unpack("<IiiHH", b[14:30])
    if hdr_size < 40 or planes != 1 or bpp not in (1, 4, 8, 16, 24, 32):
        return False
    if w <= 0 or h == 0 or w > 1 << 20 or abs(h) > 1 << 20:
        return False
    if offset < 14 + hdr_size or offset > len(b):
        return False
    if bpp == 24:
        (compression,) = _struct.unpack("<I", b[30:34])
        if compression != 0:  # BI_RGB only — the kernel reads raw rows
            return False
        if len(b) < offset + _bmp_row_size(w) * abs(h):
            return False
    return True


def decode_bmp_header(b: bytes) -> tuple[int, int, int, int]:
    """(width, height, bits-per-pixel, pixel-data offset) from a real
    BMP header — an actual binary decode, no codec library. Height is
    returned as magnitude; row order (a negative raw height means
    top-down storage) is handled inside :func:`bmp_pixels`."""
    if not is_bmp(b):
        raise ValueError("not a BMP payload")
    (offset,) = _struct.unpack("<I", b[10:14])
    _, w, h, _, bpp = _struct.unpack("<IiiHH", b[14:30])
    return w, abs(h), bpp, offset


def bmp_pixels(b: bytes):
    """Top-down h×w×3 BGR uint8 pixel array from a 24bpp BMP.

    Handles both storage orders: positive biHeight = bottom-up rows
    (the common case, flipped here), negative biHeight = top-down
    (Windows-encoder variant, read as-is)."""
    import numpy as np

    w, h, bpp, off = decode_bmp_header(b)
    if bpp != 24:
        raise ValueError(f"only 24bpp BMP supported, got {bpp}")
    (_, _, raw_h, _, _) = _struct.unpack("<IiiHH", b[14:30])
    row_size = _bmp_row_size(w)
    if len(b) < off + row_size * h:
        raise ValueError("BMP pixel data truncated")
    arr = np.frombuffer(b, dtype="uint8", count=row_size * h, offset=off)
    px = arr.reshape(h, row_size)[:, : 3 * w].reshape(h, w, 3)
    return px if raw_h < 0 else px[::-1]


def resize_bmp(b: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize: decode pixels, resample with
    integer index maps, re-encode — a complete image pipeline with
    zero external dependencies."""
    import numpy as np

    px = bmp_pixels(b)
    h, w = px.shape[:2]
    yi = (np.arange(height) * h) // height
    xi = (np.arange(width) * w) // width
    return encode_bmp(px[yi][:, xi])


# ---------------------------------------------------------------------------
# REAL PNG codec — pure stdlib zlib + numpy, no codec libraries. PNG is
# DEFLATE (zlib, stdlib) over per-scanline filtered bytes, so a complete
# compressed-format codec is implementable here: encode (filter 0 +
# zlib), header decode, and full pixel reconstruction including all
# five scanline filters (None/Sub/Up/Average/Paeth — Sub/Avg/Paeth
# reconstruct left-to-right per row; rows vectorize over channels).
# 8-bit gray / gray+alpha / RGB / RGBA, non-interlaced — the shapes an
# ML corpus actually carries. This upgrades the compressed-image tier
# from env-gated PIL to a codec that runs (and is tested) everywhere.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype → channel count


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        _struct.pack(">I", len(data))
        + ctype
        + data
        + _struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels) -> bytes:
    """Encode a top-down uint8 array as a REAL PNG: h×w (gray), h×w×2
    (gray+alpha), h×w×3 (RGB) or h×w×4 (RGBA); 8-bit, non-interlaced,
    filter 0 scanlines, one zlib IDAT. Readable by any PNG decoder."""
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype="uint8")
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, c = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = _struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    raw = bytearray()
    flat = px.reshape(h, w * c)
    for r in range(h):
        raw.append(0)  # filter type None
        raw.extend(flat[r].tobytes())
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def make_png(width: int, height: int, seed: int = 0) -> bytes:
    """A real PNG of the deterministic test pattern (same closed-form
    pixel arithmetic as :func:`make_bmp`, stored RGB — BGR reversed)."""
    return encode_png(bmp_pattern(width, height, seed)[:, :, ::-1])


def is_png(b: bytes) -> bool:
    """Sniff: PNG signature + a well-formed IHDR with a supported
    shape (8-bit, colortype gray/gray+alpha/RGB/RGBA, non-interlaced)."""
    if len(b) < len(_PNG_SIG) + 25 or b[: len(_PNG_SIG)] != _PNG_SIG:
        return False
    if b[12:16] != b"IHDR":
        return False
    w, h, depth, ctype, comp, filt, interlace = _struct.unpack(
        ">IIBBBBB", b[16:29]
    )
    return (
        0 < w <= 1 << 20
        and 0 < h <= 1 << 20
        and depth == 8
        and ctype in _PNG_CHANNELS
        and comp == 0
        and filt == 0
        and interlace == 0
    )


def decode_png_header(b: bytes) -> tuple[int, int, int, int]:
    """(width, height, bit-depth, channels) from a real PNG IHDR."""
    if not is_png(b):
        raise ValueError("not a (supported) PNG payload")
    w, h, depth, ctype = _struct.unpack(">IIBB", b[16:26])
    return w, h, depth, _PNG_CHANNELS[ctype]


def png_pixels(b: bytes):
    """Top-down h×w×c uint8 array from a PNG: walk the chunks,
    zlib-decompress the IDAT stream, reconstruct every scanline
    filter per the spec. Up/None vectorize; Sub/Average/Paeth
    reconstruct left-to-right (per-pixel along x, vectorized over
    channels) — exactness over speed for foreign files; files this
    repo encodes use filter 0 and take the vectorized path."""
    import zlib

    import numpy as np

    w, h, _, c = decode_png_header(b)
    pos = len(_PNG_SIG)
    idat = bytearray()
    while pos + 8 <= len(b):
        (ln,) = _struct.unpack(">I", b[pos:pos + 4])
        ctype = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + ln]
        if ctype == b"IDAT":
            idat.extend(data)
        if ctype == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(bytes(idat))
    stride = w * c
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG scanline data truncated")
    out = np.zeros((h, stride), dtype=np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        row = np.frombuffer(
            raw, dtype="uint8", count=stride, offset=r * (stride + 1) + 1
        ).astype(np.int64)
        ftype = raw[r * (stride + 1)]
        if ftype == 0:  # None
            cur = row
        elif ftype == 2:  # Up
            cur = (row + prev) & 0xFF
        else:
            cur = row.copy()
            for x in range(stride):
                a = cur[x - c] if x >= c else 0
                up = prev[x]
                if ftype == 1:  # Sub
                    cur[x] = (cur[x] + a) & 0xFF
                elif ftype == 3:  # Average
                    cur[x] = (cur[x] + (a + up) // 2) & 0xFF
                elif ftype == 4:  # Paeth
                    cc = prev[x - c] if x >= c else 0
                    p = a + up - cc
                    pa, pb, pc = abs(p - a), abs(p - up), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (
                        up if pb <= pc else cc
                    )
                    cur[x] = (cur[x] + pred) & 0xFF
                else:
                    raise ValueError(f"unknown PNG filter {ftype}")
        out[r] = cur
        prev = cur
    return out.astype("uint8").reshape(h, w, c)


def resize_png(b: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor PNG resize: decode, integer-index remap,
    re-encode — the compressed-format twin of :func:`resize_bmp`."""
    import numpy as np

    px = png_pixels(b)
    h, w = px.shape[:2]
    yi = (np.arange(height) * h) // height
    xi = (np.arange(width) * w) // width
    return encode_png(px[yi][:, xi])


def media_pixels(b: bytes):
    """Sniff-and-decode to a top-down uint8 pixel array: 24bpp BMP →
    h×w×3 BGR; supported PNG → h×w×3 BGR (RGB reversed for hash parity
    with BMP; gray expands to 3 channels, alpha is dropped). The one
    entry point the perceptual-hash tier uses, so dHash/pHash answers
    are format-invariant for the same image content (JPEG decodes are
    lossy — hashes land within a small Hamming distance of the
    lossless twin rather than equal, which is exactly the
    recompression-near-dup behavior the Hamming-band sweep exists
    for)."""
    import numpy as np

    if is_bmp(b):
        return bmp_pixels(b)
    from skopje_spark.operators.jpeg import is_jpeg, jpeg_pixels

    if is_jpeg(b):
        px = jpeg_pixels(b)
        if px.shape[2] == 1:
            return np.repeat(px, 3, axis=2)
        return px[:, :, ::-1]  # RGB → BGR (hash parity convention)
    if is_png(b):
        px = png_pixels(b)
        c = px.shape[2]
        if c == 1:
            return np.repeat(px, 3, axis=2)
        if c == 2:  # gray + alpha → gray ×3
            return np.repeat(px[:, :, :1], 3, axis=2)
        if c == 4:
            px = px[:, :, :3]
        return px[:, :, ::-1]  # RGB → BGR (BMP hash parity)
    raise ValueError("not a decodable media payload (BMP/PNG/JPEG)")


def attach_bmp_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Multimodal fixture with REAL image payloads: a deterministic
    per-row BMP whose dimensions derive from the id (width=8+id%16,
    height=8+id%8), so both the decode kernel and a SQL oracle can be
    checked against closed-form arithmetic."""
    import pandas as pd  # noqa: F401  (kernel below is pandas-batched)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [
                make_bmp(8 + int(i) % 16, 8 + int(i) % 8, seed=int(i) % 32)
                for i in ids
            ]
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        run, schema=f"{id_col} long, payload binary"
    )


# ---------------------------------------------------------------------------
# REAL GIF codec — pure stdlib + numpy. GIF is LZW over palette
# indices; LZW needs no library, so the MULTI-FRAME (video-shaped)
# tier gets a real codec too: encode (valid LZW via the periodic-clear
# trick), sniff, header decode, and full frame reconstruction
# (variable-width LZW, frame rectangles composited over the previous
# frame, global palette). Animated GIF is what makes sample_frames a
# real frame extractor rather than a byte-slicing stub.
# ---------------------------------------------------------------------------


def gif_pattern(width: int, height: int, seed: int, frame: int):
    """Deterministic per-frame palette-index raster: closed-form
    arithmetic on (x, y, seed, frame) so oracles recompute any pixel
    of any frame without the file."""
    import numpy as np

    xx, yy = np.meshgrid(np.arange(width), np.arange(height))
    return ((xx + 2 * yy + 3 * seed + 17 * frame) % 256).astype("uint8")


def _gif_lzw_encode(indices) -> bytes:
    """A VALID GIF-LZW stream the simple way: 8-bit min code size,
    emit every pixel as a literal 9-bit code, with a CLEAR before the
    dictionary's implicit growth would widen codes past 9 bits (the
    decoder adds one dict entry per emitted code, so clearing every
    253 literals keeps both sides at 9 bits forever). Poor
    compression, trivially correct — fixtures, not archives."""
    clear, end = 256, 257
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    for i, px in enumerate(indices):
        if i and i % 253 == 0:
            emit(clear)  # dict back to 258 entries: codes stay 9-bit
        emit(int(px))
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    # wrap in ≤255-byte sub-blocks
    blocks = bytearray()
    for i in range(0, len(out), 255):
        chunk = out[i:i + 255]
        blocks.append(len(chunk))
        blocks.extend(chunk)
    blocks.append(0)  # block terminator
    return bytes(blocks)


def _gif_lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """Full variable-width GIF-LZW decode (any conforming encoder)."""
    clear = 1 << min_code_size
    end = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    acc = 0
    nbits = 0
    out = bytearray()
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = table[: clear + 2]
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream")
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return bytes(out)


def encode_gif(frames, palette=None) -> bytes:
    """Encode a list of top-down h×w uint8 INDEX rasters as a real
    animated GIF89a with a 256-entry global palette (default:
    grayscale identity — index i maps to (i, i, i))."""
    import numpy as np

    frames = [np.asarray(f, dtype="uint8") for f in frames]
    h, w = frames[0].shape
    if palette is None:
        palette = bytes(
            v for i in range(256) for v in (i, i, i)
        )
    out = bytearray()
    out.extend(b"GIF89a")
    out.extend(_struct.pack("<HHBBB", w, h, 0xF7, 0, 0))  # GCT, 256 entries
    out.extend(palette)
    for f in frames:
        if f.shape != (h, w):
            raise ValueError("all GIF frames must share the logical size")
        # Graphic Control Extension: disposal=1 (leave), delay 4cs
        out.extend(b"\x21\xf9\x04\x04\x04\x00\x00\x00")
        out.extend(b"\x2c" + _struct.pack("<HHHHB", 0, 0, w, h, 0))
        out.append(8)  # LZW min code size
        out.extend(_gif_lzw_encode(f.reshape(-1)))
    out.append(0x3B)  # trailer
    return bytes(out)


def make_gif(width: int, height: int, n_frames: int, seed: int = 0) -> bytes:
    """A real animated GIF of the deterministic per-frame pattern."""
    return encode_gif(
        [gif_pattern(width, height, seed, f) for f in range(n_frames)]
    )


def is_gif(b: bytes) -> bool:
    return len(b) > 13 and b[:6] in (b"GIF87a", b"GIF89a")


def decode_gif_header(b: bytes) -> tuple[int, int, int]:
    """(width, height, n_frames) — frames counted by walking the block
    structure (image descriptors), skipping data without LZW work."""
    if not is_gif(b):
        raise ValueError("not a GIF payload")
    w, h, flags, _, _ = _struct.unpack("<HHBBB", b[6:13])
    pos = 13
    if flags & 0x80:
        pos += 3 * (2 << (flags & 0x07))
    n = 0
    while pos < len(b):
        marker = b[pos]
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif marker == 0x2C:  # image descriptor
            n += 1
            _, _, _, _, lflags = _struct.unpack("<HHHHB", b[pos + 1:pos + 10])
            pos += 10
            if lflags & 0x80:
                pos += 3 * (2 << (lflags & 0x07))
            pos += 1  # LZW min code size
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        else:
            raise ValueError(f"corrupt GIF block marker {marker:#x}")
    return w, h, n


def gif_frames(b: bytes):
    """Decode EVERY frame to a top-down h×w×3 RGB uint8 array: real
    LZW inflate per frame, frame rectangles composited over the
    running canvas (disposal 'leave'), global or local palette
    applied."""
    import numpy as np

    if not is_gif(b):
        raise ValueError("not a GIF payload")
    w, h, flags, bg, _ = _struct.unpack("<HHBBB", b[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n_ent = 2 << (flags & 0x07)
        gct = np.frombuffer(
            b, dtype="uint8", count=3 * n_ent, offset=pos
        ).reshape(n_ent, 3)
        pos += 3 * n_ent
    canvas = np.zeros((h, w), dtype="uint8")
    frames = []
    while pos < len(b):
        marker = b[pos]
        if marker == 0x3B:
            break
        if marker == 0x21:
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:
            raise ValueError(f"corrupt GIF block marker {marker:#x}")
        fx, fy, fw, fh, lflags = _struct.unpack("<HHHHB", b[pos + 1:pos + 10])
        pos += 10
        pal = gct
        if lflags & 0x80:
            n_ent = 2 << (lflags & 0x07)
            pal = np.frombuffer(
                b, dtype="uint8", count=3 * n_ent, offset=pos
            ).reshape(n_ent, 3)
            pos += 3 * n_ent
        if pal is None:
            raise ValueError("GIF frame without any palette")
        mcs = b[pos]
        pos += 1
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            data.extend(b[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            _gif_lzw_decode(bytes(data), mcs), dtype="uint8",
            count=fw * fh,
        ).reshape(fh, fw)
        canvas[fy:fy + fh, fx:fx + fw] = idx
        frames.append(pal[canvas])
    return frames


def attach_png_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Multimodal fixture with REAL compressed payloads: a
    deterministic per-row PNG of the same closed-form pattern as
    :func:`attach_bmp_payload` (width=8+id%16, height=8+id%8,
    seed=id%32) — zlib-compressed for real, so decoding it exercises
    DEFLATE + scanline reconstruction, not just header reads."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [
                make_png(8 + int(i) % 16, 8 + int(i) % 8, seed=int(i) % 32)
                for i in ids
            ]
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        run, schema=f"{id_col} long, payload binary"
    )


def attach_gif_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Multimodal fixture with REAL multi-frame payloads: a
    deterministic per-row animated GIF (width=8+id%16, height=8+id%8,
    n_frames=1+id%4, seed=id%32) so frame counts, per-frame pixels,
    and sampling arithmetic are all closed-form for oracles."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [
                make_gif(
                    8 + int(i) % 16, 8 + int(i) % 8,
                    1 + int(i) % 4, seed=int(i) % 32,
                )
                for i in ids
            ]
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        run, schema=f"{id_col} long, payload binary"
    )


def decode_media_pixels(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """FULL pixel decode over ``mapInPandas``: sniff BMP/PNG, decode
    every pixel (:func:`media_pixels` — for PNG that is a real zlib
    inflate + filter reconstruction), and emit (width, height,
    gray_sum) where gray_sum = Σ (b+g+r)//3 over all pixels — an
    integer statistic a SQL oracle recomputes closed-form from the
    test pattern, so one hash compare proves the entire compressed
    codec path bit-exact."""
    import numpy as np

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("gray_sum", T.LongType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, sums = [], [], []
            for raw in pdf["payload"]:
                px = media_pixels(bytes(raw)).astype(np.int64)
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                sums.append(int((px.sum(axis=2) // 3).sum()))
            yield pd.DataFrame({
                id_col: pdf[id_col].astype("int64"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "gray_sum": pd.Series(sums, dtype="int64"),
            })

    return df.select(F.col(id_col), "payload").mapInPandas(run, schema)


def decode_media_bmp(payloads: pd.Series) -> pd.DataFrame:
    """Sniffing kernel: REAL header decode for BMP and PNG payloads,
    with undecodable rows delegated to :func:`decode_media_batch` (one
    source of truth for the stub arithmetic, and the vectorized fast
    path stays vectorized for stub-only batches — mixed corpora decode
    in one pass, like a real pipeline sniffing magic bytes)."""
    import numpy as np

    def _dims(raw):
        b = bytes(raw)
        if is_bmp(b):
            return (*decode_bmp_header(b)[:2], 1)
        if is_png(b):
            return (*decode_png_header(b)[:2], 1)
        if is_gif(b):
            return decode_gif_header(b)  # REAL frame count
        from skopje_spark.operators.jpeg import decode_jpeg_header, is_jpeg

        if is_jpeg(b):
            try:
                return (*decode_jpeg_header(b)[:2], 1)
            except ValueError:
                return None  # non-baseline: stub tier
        return None

    dims = payloads.apply(_dims)
    mask = dims.apply(lambda d: d is not None)
    out = decode_media_batch(payloads)
    if mask.any():
        real = dims[mask]
        # assign same-dtype arrays: pandas ≥2.2 deprecates implicit
        # int64-list → int32-column assignment
        out.loc[mask.values, "width"] = np.asarray(
            [w for w, _, _ in real], dtype=out["width"].dtype
        )
        out.loc[mask.values, "height"] = np.asarray(
            [h for _, h, _ in real], dtype=out["height"].dtype
        )
        out.loc[mask.values, "n_frames"] = np.asarray(
            [n for _, _, n in real], dtype=out["n_frames"].dtype
        )
    return out


# ---------------------------------------------------------------------------
# Perceptual image hashing + Hamming near-dup — the multimodal-corpus
# dedup signal. dHash (gradient hash, Krawetz's difference hash) and
# pHash (DCT low-frequency hash) over REAL decoded pixels
# (:func:`bmp_pixels`), numpy per Arrow batch; candidate pairs come
# from Hamming-band LSH (the simhash banding idea re-applied to image
# hashes), never an all-pairs join.
# ---------------------------------------------------------------------------

_PHASH_BITS = 64
_PHASH_HEX_LEN = _PHASH_BITS // 4


def _gray_resize(px, out_w: int, out_h: int):
    """Integer grayscale ((b+g+r)//3) + nearest-neighbor resample with
    the same floor-index maps as :func:`resize_bmp` — every step is
    exact integer arithmetic, so a SQL oracle can recompute any pixel
    of the resized grayscale closed-form."""
    import numpy as np

    h, w = px.shape[:2]
    g = px.astype(np.int64).sum(axis=2) // 3
    yi = (np.arange(out_h) * h) // out_h
    xi = (np.arange(out_w) * w) // out_w
    return g[yi][:, xi]


def dhash_hex(b: bytes) -> str:
    """64-bit difference hash of a BMP payload as 16 lowercase hex
    chars: resize the integer grayscale to 9×8, set bit (i, j) when
    gray[i][j+1] > gray[i][j], pack each row into one byte (bit j is
    that byte's 2^j), concatenate row bytes as hex. All-integer, so
    the DuckDB oracle reproduces it bit-for-bit from the closed-form
    test pattern."""
    g = _gray_resize(media_pixels(b), 9, 8)
    bits = g[:, 1:] > g[:, :-1]  # 8×8
    out = []
    for i in range(8):
        byte = 0
        for j in range(8):
            if bits[i, j]:
                byte |= 1 << j
        out.append(f"{byte:02x}")
    return "".join(out)


def phash_hex(b: bytes) -> str:
    """64-bit DCT perceptual hash as 16 hex chars: 32×32 integer
    grayscale, orthonormal DCT-II (explicit numpy cosine matrix — no
    scipy), keep the top-left 8×8 low-frequency block, threshold each
    coefficient against the median of the block EXCLUDING the DC
    term. Float DCT means no SQL oracle; robustness is unit-pinned
    (resize-invariance, distinct-image separation) instead."""
    import numpy as np

    g = _gray_resize(media_pixels(b), 32, 32).astype(np.float64)
    n = 32
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    D = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    D[0, :] = np.sqrt(1.0 / n)
    block = (D @ g @ D.T)[:8, :8].reshape(-1)
    med = np.median(block[1:])
    out = []
    for i in range(8):
        byte = 0
        for j in range(8):
            if block[i * 8 + j] > med:
                byte |= 1 << j
        out.append(f"{byte:02x}")
    return "".join(out)


def image_phash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    method: str = "dhash",
) -> DataFrame:
    """Per-image perceptual hash column: ``(id_col, phash)`` with the
    hash as 16 lowercase hex chars. Arrow-batched mapInPandas over
    the binary payloads — a narrow map, no shuffle; payloads never
    leave the executor. ``method`` is ``"dhash"`` (gradient,
    SQL-oracle-able) or ``"phash"`` (DCT)."""
    if method not in ("dhash", "phash"):
        raise ValueError(f"unknown method {method!r}")
    kernel = dhash_hex if method == "dhash" else phash_hex
    dts = dict(df.dtypes)
    schema = f"{id_col} {dts[id_col]}, phash string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": [kernel(bytes(p)) for p in pdf[payload_col]],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema)


def _hamming_hex(a, b):
    """Hamming distance between two 16-hex-char hash columns, as a
    codegen expression: each 32-bit half converts via conv(hex) into
    a long (sign-safe — halves never reach bit 63), XOR, bit_count,
    sum. No UDF."""
    total = None
    for off in (0, 8):
        ai = F.conv(F.substring(a, off + 1, 8), 16, 10).cast("long")
        bi = F.conv(F.substring(b, off + 1, 8), 16, 10).cast("long")
        t = F.bit_count(ai.bitwiseXOR(bi))
        total = t if total is None else total + t
    return total


def image_neardup_pairs(
    hashes: DataFrame,
    *,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_dist: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate image pairs ``(id_a, id_b, hamming)`` with
    ``id_a < id_b`` and Hamming distance ≤ ``max_dist``, from a
    perceptual-hash frame (:func:`image_phash`).

    Plan: Hamming-band LSH — the 64-bit hash splits into ``bands``
    equal hex substrings; candidates are pairs sharing ANY band
    (equi-join on (band_id, band_sig), the same bucket-join shape as
    the MinHash LSH sweep — never an all-pairs join), then the TRUE
    distance is verified by the codegen XOR/bit_count expression.
    By pigeonhole the banding is EXACT (zero false negatives) while
    ``max_dist < bands``: ≤ max_dist differing bits cannot touch all
    bands, so every qualifying pair shares at least one intact band —
    enforced here rather than assumed. Identical images (distance 0)
    always pair.

    Scale: one shuffle on the band key; a bucket of b identical
    images yields b(b-1)/2 genuine pairs — real duplicates, not a
    skew artifact; AQE skew-split applies as in every bucket join."""
    if max_dist >= bands:
        raise ValueError(
            f"max_dist={max_dist} needs bands > max_dist (got {bands}) for "
            "exact banding — raise bands or lower max_dist"
        )
    if _PHASH_HEX_LEN % bands:
        raise ValueError(f"bands={bands} must divide {_PHASH_HEX_LEN}")
    clen = _PHASH_HEX_LEN // bands
    h = hashes.select(id_col, hash_col)
    b = h.select(
        F.col(id_col).alias("__id"),
        F.col(hash_col).alias("__h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.substring(hash_col, i * clen + 1, clen).alias(
                            "band_sig"
                        ),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__h", "__b.band_id", "__b.band_sig")
    left = b.select(
        "band_id", "band_sig",
        F.col("__id").alias("id_a"), F.col("__h").alias("__ha"),
    )
    right = b.select(
        "band_id", "band_sig",
        F.col("__id").alias("id_b"), F.col("__h").alias("__hb"),
    )
    cand = (
        left.join(right, ["band_id", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha", "__hb")
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming_hex(F.col("__ha"), F.col("__hb")))
        .filter(F.col("hamming") <= int(max_dist))
        .select("id_a", "id_b", "hamming")
    )


def bmp_noise_pattern(width: int, height: int, seed: int = 0):
    """Deterministic NOISE pattern (top-down h×w×3, BGR): quadratic
    mixes of (x, y, seed) mod 256. Unlike :func:`bmp_pattern` (a
    smooth gradient whose grayscale is monotone in x — every dHash
    bit saturates to 1), this pattern has per-pixel structure, so
    perceptual hashes vary with the seed. Still closed-form integer
    arithmetic: a SQL oracle recomputes any pixel, any resized
    grayscale sample, and the full dHash."""
    import numpy as np

    xx, yy = np.meshgrid(
        np.arange(width, dtype=np.int64), np.arange(height, dtype=np.int64)
    )
    s = int(seed)
    b = (xx * xx * 7 + yy * yy * 13 + xx * yy * 5 + 31 * s) % 256
    g = (xx * xx * 3 + yy * yy * 11 + xx * yy * 7 + 17 * s + xx) % 256
    r = (xx * xx * 5 + yy * yy * 3 + xx * yy * 11 + 23 * s + yy) % 256
    return np.stack([b, g, r], axis=-1).astype("uint8")


def make_noise_bmp(width: int, height: int, seed: int = 0) -> bytes:
    """A real BMP file of the deterministic noise pattern."""
    return encode_bmp(bmp_noise_pattern(width, height, seed))


def attach_noise_bmp_payload(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Noise-pattern twin of :func:`attach_bmp_payload` (same per-id
    dimension/seed derivation: width=8+id%16, height=8+id%8,
    seed=id%32) — ids congruent mod 32 share dims AND seed, so they
    carry IDENTICAL images: the natural planted-duplicate structure
    the perceptual-hash dedup query pins."""
    import pandas as pd  # noqa: F401

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            payloads = [
                make_noise_bmp(8 + int(i) % 16, 8 + int(i) % 8, seed=int(i) % 32)
                for i in ids
            ]
            yield pd.DataFrame({id_col: ids, "payload": payloads})

    return df.select(F.col(id_col)).mapInPandas(
        run, schema=f"{id_col} long, payload binary"
    )
