"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata, processed
by Arrow-batched ``mapInArrow`` stages. The Spark-side plumbing — schema,
batch shape, partitioning, UDF signatures — is real and tested.

Decode contract: the deterministic fake (``fake=True``, the default) is the
stable test/bench contract — SHA-256-derived feature vectors, stable
across processes and oracle-checkable (frame counts + shapes have an exact
SQL oracle in ``__spark_entry__``). ``fake=False`` decodes for real:
PPM/PGM, uncompressed BMP and PCM WAV natively in numpy (no dependencies),
anything else import-gates on Pillow. Decode failures surface per-row
through the ``error`` column — never a task failure.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import schemas

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType()),       # image|audio|video
        T.StructField("mime", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ]
)
_FEATURES_ARROW = schemas.to_arrow(FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Real decoders — dependency-free formats in pure numpy. Dispatch is by
# magic bytes (not the mime column: payloads are untrusted). Anything else
# falls through to an import-gated Pillow hook, surfaced per-row through
# the error column.
# ---------------------------------------------------------------------------


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM/PGM (P6/P5) → (H, W, 3) uint8. Pure numpy."""
    if not payload.startswith((b"P6", b"P5")):
        raise ValueError("not a binary PPM/PGM")
    gray = payload.startswith(b"P5")
    # header: magic, width, height, maxval — ws-separated, '#' comments
    pos, fields = 2, []
    n = len(payload)
    while len(fields) < 3 and pos < n:
        c = payload[pos]
        if c in b" \t\r\n":
            pos += 1
        elif c == ord("#"):
            nl = payload.find(b"\n", pos)
            pos = n if nl == -1 else nl + 1
        else:
            end = pos
            while end < n and payload[end] not in b" \t\r\n":
                end += 1
            fields.append(int(payload[pos:end]))
            pos = end
    if len(fields) < 3 or pos >= n:
        raise ValueError("truncated PPM header")
    w, h, maxval = fields
    if not (0 < w and 0 < h and 0 < maxval < 65536):
        raise ValueError("bad PPM dimensions")
    pos += 1  # single whitespace after maxval
    ch = 1 if gray else 3
    need = w * h * ch * (2 if maxval > 255 else 1)
    raw = payload[pos : pos + need]
    if len(raw) < need:
        raise ValueError("truncated PPM pixel data")
    dt = ">u2" if maxval > 255 else np.uint8
    arr = np.frombuffer(raw, dtype=dt).reshape(h, w, ch).astype(np.float64)
    arr = (arr * (255.0 / maxval)).astype(np.uint8)
    if gray:
        arr = np.repeat(arr, 3, axis=2)
    return arr


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BI_RGB BMP → (H, W, 3) uint8. Pure numpy."""
    import struct

    if not payload.startswith(b"BM") or len(payload) < 54:
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    top_down = h_signed < 0
    h = abs(h_signed)
    if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16):
        raise ValueError("bad BMP dimensions")
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3  # rows padded to 4 bytes
    need = stride * h
    raw = payload[data_off : data_off + need]
    if len(raw) < need:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    px = rows[:, : w * bytes_pp].reshape(h, w, bytes_pp)
    rgb = px[:, :, 2::-1]  # BGR(A) → RGB
    if not top_down:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb)


def decode_png(payload: bytes) -> np.ndarray:
    """Non-interlaced 8-bit PNG (gray / gray+alpha / RGB / RGBA) →
    (H, W, 3) uint8. Pure stdlib ``zlib`` + numpy unfiltering — real
    corpora are PNG/JPEG-dominated and this covers the most common
    format dependency-free. All five scanline filters supported; Sub is
    a per-lane cumsum, Up a vectorized add, Average/Paeth walk the row
    (left-neighbor data dependency)."""
    import struct
    import zlib

    if not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG")
    pos, n = 8, len(payload)
    ihdr = None
    idat = []
    while pos + 8 <= n:
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + payload + crc
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    if depth != 8 or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, interlace={interlace})"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {color}")
    if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16):
        raise ValueError("bad PNG dimensions")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"bad PNG IDAT stream: {exc}") from exc
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    data = np.frombuffer(raw[: h * (stride + 1)], dtype=np.uint8).reshape(
        h, stride + 1
    )
    ftypes = data[:, 0]
    scan = data[:, 1:].astype(np.int64)
    recon = np.zeros((h, stride), dtype=np.uint8)
    bpp = channels
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = ftypes[y]
        line = scan[y]
        if f == 0:
            rec = line
        elif f == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp] ⇒ lane cumsum
            rec = line.copy()
            for lane in range(bpp):
                rec[lane::bpp] = np.cumsum(rec[lane::bpp]) % 256
        elif f == 2:  # Up
            rec = (line + prev) % 256
        elif f == 3:  # Average
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (line[x] + ((left + prev[x]) >> 1)) % 256
        elif f == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int64)
            for x in range(stride):
                a = rec[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (line[x] + pr) % 256
        else:
            raise ValueError(f"bad PNG filter type {f}")
        recon[y] = rec
        prev = rec if rec.dtype == np.int64 else rec.astype(np.int64)
    arr = recon.reshape(h, w, channels)
    if channels == 1:
        rgb = np.repeat(arr, 3, axis=2)
    elif channels == 2:
        rgb = np.repeat(arr[:, :, :1], 3, axis=2)
    elif channels == 4:
        rgb = arr[:, :, :3]
    else:
        rgb = arr
    return np.ascontiguousarray(rgb)


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal PNG writer (8-bit, non-interlaced) used by tests and the
    oracle query to exercise :func:`decode_png` — every scanline gets
    ``filter_type`` so each of the five filters is decodable under a
    closed-form oracle."""
    import struct
    import zlib

    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = arr.astype(np.int64).reshape(h, w * ch)
    bpp = ch
    rows = []
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        cur = flat[y]
        left = np.zeros_like(cur)
        left[bpp:] = cur[:-bpp]
        ul = np.zeros_like(prev)
        ul[bpp:] = prev[:-bpp]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:
            filt = cur - left
        elif filter_type == 2:
            filt = cur - prev
        elif filter_type == 3:
            filt = cur - ((left + prev) >> 1)
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pr = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            filt = cur - pr
        rows.append(
            bytes([filter_type]) + (filt % 256).astype(np.uint8).tobytes()
        )
        prev = cur
    raw = zlib.compress(b"".join(rows))

    def chunk(t: bytes, b: bytes) -> bytes:
        return (
            struct.pack(">I", len(b)) + t + b
            + struct.pack(">I", zlib.crc32(t + b))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", raw)
        + chunk(b"IEND", b"")
    )


def decode_wav(payload: bytes) -> np.ndarray:
    """RIFF/WAVE PCM (8/16-bit) → mono float64 samples in [-1, 1]."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, n = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, _rate, _bps, _align, bits = fmt
    if audio_format != 1 or bits not in (8, 16) or channels < 1:
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    if bits == 16:
        samples = np.frombuffer(
            data[: len(data) & ~1], dtype="<i2"
        ).astype(np.float64) / 32768.0
    else:
        samples = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
        ) / 128.0
    if channels > 1:
        usable = len(samples) - len(samples) % channels
        samples = samples[:usable].reshape(-1, channels).mean(axis=1)
    return samples


def image_features(arr: np.ndarray, dim: int) -> np.ndarray:
    """(H, W, 3) uint8 → [meanRGB/255, stdRGB/255, (dim-6) horizontal-band
    grayscale means]. All float64 math, deterministic."""
    f = np.zeros(dim, dtype=np.float64)
    px = arr.astype(np.float64) / 255.0
    f[0:3] = px.mean(axis=(0, 1))[:3]
    f[3:6] = px.std(axis=(0, 1))[:3]
    nb = dim - 6
    if nb > 0:
        gray = px.mean(axis=2)
        bands = np.array_split(gray, min(nb, gray.shape[0]), axis=0)
        means = [b.mean() for b in bands]
        f[6 : 6 + len(means)] = means[:nb]
    return f


def audio_features(samples: np.ndarray, dim: int) -> np.ndarray:
    """float64 samples → [mean, std, rms, zero-cross rate, min, max,
    (dim-6) block RMS values]."""
    f = np.zeros(dim, dtype=np.float64)
    if len(samples) == 0:
        return f
    f[0] = samples.mean()
    f[1] = samples.std()
    f[2] = np.sqrt(np.mean(samples * samples))
    f[3] = np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1]))
    f[4] = samples.min()
    f[5] = samples.max()
    nb = dim - 6
    if nb > 0:
        blocks = np.array_split(samples, min(nb, len(samples)))
        f[6 : 6 + len(blocks)] = [np.sqrt(np.mean(b * b)) for b in blocks]
    return f


def _decode_real(payload: bytes, mime: str, dim: int) -> np.ndarray:
    """Magic-byte dispatch to the numpy decoders; unsupported formats gate
    on Pillow so richer environments decode without code changes."""
    p = bytes(payload) if payload is not None else b""
    if p.startswith((b"P6", b"P5")):
        return image_features(decode_ppm(p), dim)
    if p.startswith(b"\x89PNG\r\n\x1a\n"):
        return image_features(decode_png(p), dim)
    if p.startswith(b"\xff\xd8"):
        from .jpeg import decode_jpeg

        return image_features(decode_jpeg(p), dim)
    if p.startswith((b"GIF87a", b"GIF89a")):
        from .gif import decode_gif

        return image_features(decode_gif(p), dim)
    if p.startswith(b"BM"):
        return image_features(decode_bmp(p), dim)
    if p.startswith(b"RIFF"):
        return audio_features(decode_wav(p), dim)
    try:
        from PIL import Image
        import io

        arr = np.asarray(Image.open(io.BytesIO(p)).convert("RGB"))
        return image_features(arr, dim)
    except ImportError as exc:
        raise NotImplementedError(
            f"unsupported media format (mime={mime}); PPM/PGM, BMP and PCM "
            "WAV decode natively, the rest needs Pillow/av"
        ) from exc


def _decode_fake(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic fake decode: SHA-256 of the payload expanded into a
    float feature vector — stable across processes, exercises the full
    Arrow round-trip with realistic shapes."""
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((dim * 4) // len(digest) + 1))[: dim * 4],
                        dtype=np.uint32)
    return (raw % 1000).astype(np.float32) / 1000.0


def media_features_df(
    media: DataFrame, dim: int = 16, frame_stride_ms: int = 1000,
    fake: bool = True,
) -> DataFrame:
    """media table → per-item feature vectors (+ frame sampling for video).

    Batch shape: one Arrow batch holds whole payloads; keep
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` low for large media
    (same sizing rule as HTML rows, session.py).
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            n = batch.num_rows
            is_video = pc.fill_null(
                pc.equal(batch.column("kind"), "video"), False
            ).to_numpy(zero_copy_only=False)
            durs = (
                pc.fill_null(batch.column("duration_ms"), 0)
                .to_numpy(zero_copy_only=False)
                .astype("int64")
            )
            # whole-batch frame counts (video samples every frame_stride_ms)
            n_frames = np.where(
                is_video,
                np.maximum(1, durs // frame_stride_ms),
                1,
            ).astype("int32")
            feats = np.zeros((n, dim), dtype=np.float64)
            errors: list[str | None] = [None] * n
            # column-zip iteration; the sha256 per frame is C-speed
            for i, (payload, mime, nf) in enumerate(
                zip(batch.column("payload").to_pylist(),
                    batch.column("mime").to_pylist(), n_frames)
            ):
                try:
                    if fake:
                        p = payload or b""
                        acc = np.zeros(dim, dtype=np.float64)
                        for k in range(int(nf)):
                            acc += _decode_fake(p + bytes([k % 256]), dim)
                        feats[i] = acc / int(nf)
                    else:
                        feats[i] = _decode_real(payload, mime, dim)
                except Exception as exc:  # any decode fault is row data
                    errors[i] = str(exc)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("media_ref"),
                    batch.column("kind"),
                    pa.ListArray.from_arrays(
                        np.arange(0, n * dim + 1, dim, dtype=np.int32),
                        feats.astype(np.float32).ravel(),
                    ),
                    pa.array(n_frames, pa.int32()),
                    pa.array(errors, pa.string()),
                ],
                schema=_FEATURES_ARROW,
            )

    return media.mapInArrow(run, schema=FEATURES_SCHEMA)


def make_real_payload(doc_id: int) -> tuple[str, str, bytes, int | None]:
    """Deterministic real-format payload for ``doc_id``:
    (kind, mime, payload, duration_ms). doc_id%4 cycles PPM solid-color
    image, PCM WAV constant signal, BMP solid-color image, and a junk
    'video' that exercises the per-row error channel. Kept simple enough
    that the expected features are closed-form in SQL (solid color ⇒
    mean=c, std=0; constant signal ⇒ rms=|c|, zcr=0) — the DuckDB oracle
    for media_features_real recomputes them from doc_id alone."""
    import struct

    m = doc_id % 4
    if m == 0:  # 8x8 solid color: PPM / PNG / JPEG / GIF / progressive-
        # JPEG cycle (same features for every container, so the
        # closed-form oracle is container-agnostic). PNG rows cycle all
        # five scanline filters; JPEG rows are quality_scale=16 — DC
        # quant step 1, so a solid color reconstructs EXACTLY (pinned by
        # the solid-color sweep in tests); the SOF2 rows exercise the
        # round-5 progressive decode path end-to-end
        r, g, b = doc_id % 256, (3 * doc_id) % 256, (7 * doc_id) % 256
        container = (doc_id // 4) % 5
        if container == 4:
            from .jpeg import encode_jpeg_progressive

            arr = np.full((8, 8, 3), (r, g, b), dtype=np.uint8)
            return (
                "image", "image/jpeg",
                encode_jpeg_progressive(arr, quality_scale=16), None,
            )
        if container == 1:
            arr = np.full((8, 8, 3), (r, g, b), dtype=np.uint8)
            return (
                "image", "image/png",
                encode_png(arr, filter_type=(doc_id // 8) % 5), None,
            )
        if container == 2:
            from .jpeg import encode_jpeg

            arr = np.full((8, 8, 3), (r, g, b), dtype=np.uint8)
            return (
                "image", "image/jpeg",
                encode_jpeg(arr, quality_scale=16,
                            subsample=bool((doc_id // 12) % 2)), None,
            )
        if container == 3:
            from .gif import decode_gif, encode_gif  # noqa: F401

            arr = np.full((8, 8, 3), (r, g, b), dtype=np.uint8)
            return ("image", "image/gif", encode_gif(arr), None)
        return (
            "image", "image/x-portable-pixmap",
            b"P6\n8 8\n255\n" + bytes([r, g, b]) * 64, None,
        )
    if m == 1:  # PCM16 mono WAV, 64 constant samples in {0,±.25,±.5,±.75}
        v = (doc_id % 7 - 3) * 8192
        data = struct.pack("<h", v) * 64
        hdr = (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"data" + struct.pack("<I", len(data))
        )
        return "audio", "audio/wav", hdr + data, None
    if m == 2:  # 24bpp bottom-up BMP, 6x4 solid color
        r, g, b = (5 * doc_id) % 256, (11 * doc_id) % 256, (13 * doc_id) % 256
        row = bytes([b, g, r]) * 6 + b"\0\0"  # stride 20, padded to 4
        px = row * 4
        hdr = (
            b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 6, 4, 1, 24, 0, len(px),
                          2835, 2835, 0, 0)
        )
        return "image", "image/bmp", hdr + px, None
    # m == 3: junk payload under a video mime — decode error expected
    return (
        "video", "video/mp4",
        b"\x00\x00\x00\x18ftypmp42" + bytes([doc_id % 256]) * 16,
        (doc_id % 9 + 1) * 1000,
    )


def fake_media_table(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media rows for tests/bench."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * 4
        rows.append(
            (
                f"m-{i:06d}", kind,
                {"image": "image/png", "audio": "audio/wav",
                 "video": "video/mp4"}[kind],
                bytearray(payload),
                64 if kind == "image" else None,
                64 if kind == "image" else None,
                rng.randrange(1000, 10000) if kind == "video" else None,
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
