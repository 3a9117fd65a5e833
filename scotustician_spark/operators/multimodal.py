"""Multimodal (image/audio/video) column plumbing.

Beyond-reference training-pipeline operators: media travel as opaque
``binary`` columns with typed metadata structs; real decode / feature
extraction / frame sampling run as Arrow-batched ``mapInPandas``
stages (the only sane shape for Python media libs at scale: one
pandas batch per task, library initialized once per partition, bytes
never round-trip through the driver).

Decode surface, by dependency weight:

- ``mode='fake'`` (default for the oracle-gated queries): a
  deterministic byte-level feature extractor (md5/length-derived),
  planned as Catalyst expressions with no Python in the plan —
  SQL-reproducible, so the driver oracle verifies the full
  distributed path end-to-end.
- ``mode='real'``: actual decoding. WAV audio decodes with the
  STDLIB ``wave`` + ``struct`` (per-chunk RMS energy features, true
  duration); PNG PIXELS decode stdlib-only too (``zlib`` inflate +
  scanline unfilter, ``_png_gray_pixels``); PNG/JPEG/GIF header
  metadata (width/height) parses with pure ``struct`` (see
  ``probe_media_metadata``). Only JPEG/GIF pixel decode needs PIL
  (entropy coding — no sane stdlib path) and is import-gated:
  absent PIL it raises NotImplementedError at the one clearly-marked
  point. Unknown byte formats raise rather than silently fake.

The real decoders share one Spark-side plumbing (schema, Arrow
batching, partitioning), and it is tested.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import repartition_for_compute

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)


def _fake_features(content: bytes, n_dims: int) -> list[float]:
    """Deterministic stand-in for a decoded-media feature vector:
    dims j = ascii(md5_hex[j]) — reproducible in any engine. The
    Python reference that ``extract_media_features(mode='fake')``'s
    Catalyst expressions are tested against."""
    h = hashlib.md5(content).hexdigest()
    return [float(ord(h[j])) for j in range(n_dims)]


# ---- real decoders ------------------------------------------------

def sniff_media(content: bytes) -> str | None:
    """Magic-byte container sniff: 'wav' | 'png' | 'jpeg' | 'gif' or
    None for unrecognized bytes."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return "wav"
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if content[:2] == b"\xff\xd8":
        return "jpeg"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return None


def _decode_wav(content: bytes, n_dims: int) -> tuple[list[float], dict]:
    """REAL audio decode with the stdlib ``wave`` module: parse the
    RIFF container, read the PCM frames, and summarize them as
    ``n_dims`` per-chunk RMS energies (normalized to [0, 1]) — the
    classic fixed-width audio fingerprint. Returns (features, meta)."""
    import wave

    with wave.open(io.BytesIO(content), "rb") as w:
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        rate = w.getframerate()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    fmt = {1: "b", 2: "h", 4: "i"}.get(width)
    if fmt is None:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    samples = struct.unpack(f"<{len(raw) // width}{fmt}", raw)
    full_scale = float(1 << (8 * width - 1))
    feats = []
    n = len(samples)
    for j in range(n_dims):
        chunk = samples[j * n // n_dims : (j + 1) * n // n_dims]
        if not chunk:
            feats.append(0.0)
            continue
        rms = (sum(s * s for s in chunk) / len(chunk)) ** 0.5
        feats.append(rms / full_scale)
    meta = {
        "media_type": "audio",
        "format": "wav",
        "width": None,
        "height": None,
        "duration_s": n_frames / rate if rate else None,
    }
    return feats, meta


def _image_dims(content: bytes, kind: str) -> tuple[int | None, int | None]:
    """Pure-``struct`` width/height from PNG IHDR / GIF logical screen
    descriptor / JPEG SOF markers — header metadata needs no pixel
    decoder."""
    if kind == "png" and len(content) >= 24:
        w, h = struct.unpack(">II", content[16:24])
        return int(w), int(h)
    if kind == "gif" and len(content) >= 10:
        w, h = struct.unpack("<HH", content[6:10])
        return int(w), int(h)
    if kind == "jpeg":
        i = 2
        while i + 9 < len(content):
            if content[i] != 0xFF:
                break
            marker = content[i + 1]
            seg_len = struct.unpack(">H", content[i + 2 : i + 4])[0]
            # SOF0..SOF15 except DHT(C4)/JPG(C8)/DAC(CC) carry dims
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", content[i + 5 : i + 9])
                return int(w), int(h)
            i += 2 + seg_len
    return None, None


def _png_gray_pixels(content: bytes) -> list[int]:
    """REAL pure-stdlib PNG pixel decode: chunk walk → concatenated
    IDAT ``zlib`` inflate → per-scanline unfilter (None/Sub/Up/
    Average/Paeth) → 8-bit grayscale via the ITU-R 601 integer luma
    PIL uses for ``convert("L")``. Handles the five standard color
    types at bit depth 8 and grayscale/RGB at 16 (high byte); Adam7
    interlace is the one unsupported layout (raise, don't guess).
    """
    pos, ihdr, plte, idat = 8, None, b"", []
    while pos + 8 <= len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if interlace:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    if channels is None or depth not in (8, 16) or (color == 3 and depth != 8):
        raise NotImplementedError(f"PNG color type {color}/depth {depth}")
    nb = depth // 8
    bpp = channels * nb  # filter distance, bytes
    stride = w * bpp
    raw = zlib.decompress(b"".join(idat))

    prev = bytearray(stride)
    gray: list[int] = []
    for y in range(h):
        row_off = y * (stride + 1)
        ft = raw[row_off]
        line = bytearray(raw[row_off + 1 : row_off + 1 + stride])
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        prev = line
        # 16-bit samples keep the high byte — the 8-bit projection
        for x in range(w):
            o = x * bpp
            if color == 0 or color == 4:  # gray (+alpha)
                gray.append(line[o])
            elif color == 3:  # palette → RGB lookup
                pi = line[o] * 3
                r, g, b_ = plte[pi], plte[pi + 1], plte[pi + 2]
                gray.append((r * 299 + g * 587 + b_ * 114) // 1000)
            else:  # RGB / RGBA
                r, g, b_ = line[o], line[o + nb], line[o + 2 * nb]
                gray.append((r * 299 + g * 587 + b_ * 114) // 1000)
    return gray


def _hist_features(gray: list[int], n_dims: int) -> list[float]:
    """256-bin grayscale histogram pooled into ``n_dims`` buckets of
    normalized mass — the fixed-width image fingerprint both pixel
    decoders reduce to."""
    hist = [0] * 256
    for v in gray:
        hist[v] += 1
    total = float(len(gray)) or 1.0
    return [
        sum(hist[j * 256 // n_dims : (j + 1) * 256 // n_dims]) / total
        for j in range(n_dims)
    ]


def _decode_image_pixels(content: bytes, n_dims: int) -> list[float]:
    """Pixel-level image features. PNG decodes with ZERO optional deps
    (stdlib ``zlib`` + ``struct`` — ``_png_gray_pixels``); JPEG/GIF
    entropy coding needs a real codec, so those go through PIL when
    importable and raise NotImplementedError otherwise. PIL is also
    preferred for PNG when present (C-speed on large images)."""
    kind = sniff_media(content)
    try:
        from PIL import Image
    except ImportError:
        Image = None
    if Image is not None:
        img = Image.open(io.BytesIO(content)).convert("L")
        hist = img.histogram()  # 256 gray bins
        total = float(sum(hist)) or 1.0
        return [
            sum(hist[j * 256 // n_dims : (j + 1) * 256 // n_dims]) / total
            for j in range(n_dims)
        ]
    if kind == "png":
        return _hist_features(_png_gray_pixels(content), n_dims)
    raise NotImplementedError(
        f"{kind or 'unknown'} PIXEL decode needs PIL (pip install "
        "pillow); PNG decodes stdlib-only, header metadata "
        "(width/height) works for all formats via probe_media_metadata"
    )


def _real_features(content: bytes, n_dims: int) -> list[float]:
    kind = sniff_media(content)
    if kind == "wav":
        return _decode_wav(content, n_dims)[0]
    if kind in ("png", "jpeg", "gif"):
        return _decode_image_pixels(content, n_dims)
    raise NotImplementedError(
        f"unrecognized media container (first bytes {content[:8]!r}); "
        "supported: WAV + PNG (stdlib), JPEG/GIF (PIL-gated)"
    )


def extract_media_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    n_dims: int = 8,
    mode: str = "fake",
) -> DataFrame:
    """binary content → (id, n_bytes, content_md5, features[n_dims]).

    ``mode='fake'`` is the deterministic md5 extractor the SQL oracle
    replays (``_fake_features``: dim j = ascii(md5_hex[j])), computed
    as pure Catalyst expressions — md5 over the same bytes, and
    ``ascii(hex char)`` is an exact small-integer double, so the rows
    are bit-identical to the Python stand-in with zero Python in the
    plan (guide §4.1 "prefer built-ins"). The md5 digest has 32 hex
    digits, so ``n_dims`` must lie in 1..32.

    ``mode='real'`` decodes in an Arrow-batched mapInPandas: each task
    processes whole record batches (the predict_batch_udf pattern,
    C4). WAV via the stdlib ``wave`` parser
    (per-chunk RMS features), PNG pixels via the stdlib inflate +
    unfilter decoder, JPEG/GIF pixels via PIL (import-gated —
    NotImplementedError without it), anything else raises.
    """
    if mode not in ("fake", "real"):
        raise ValueError(f"mode must be 'fake' or 'real', got {mode!r}")
    if mode == "fake":
        if not 1 <= n_dims <= 32:
            raise ValueError(
                f"n_dims must be in 1..32 (md5 has 32 hex digits), got {n_dims}"
            )
        md5c = F.md5(F.col(content_col))
        return repartition_for_compute(df.select(id_col, content_col)).select(
            F.col(id_col).cast("long").alias("id"),
            F.octet_length(F.col(content_col)).cast("long").alias("n_bytes"),
            md5c.alias("content_md5"),
            F.array(
                *[
                    F.ascii(F.substring(md5c, j + 1, 1)).cast("double")
                    for j in range(n_dims)
                ]
            ).alias("features"),
        )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("content_md5", T.StringType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = pdf[content_col]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "n_bytes": content.map(len).astype("int64"),
                    "content_md5": content.map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "features": content.map(
                        lambda b: _real_features(bytes(b), n_dims)
                    ),
                }
            )

    return repartition_for_compute(df.select(id_col, content_col)).mapInPandas(
        run, schema
    )


def probe_media_metadata(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """REAL header-level media probe, zero optional deps: sniff the
    container by magic bytes and parse format headers with ``struct``
    — PNG IHDR / GIF screen descriptor / JPEG SOF for width+height,
    the WAV RIFF header for duration. Returns (id, media_meta) with
    the MEDIA_META struct filled where the format carries the field.
    Pure map stage (mapInPandas), no shuffle — metadata extraction at
    ingest is exactly this shape at 100 TB."""
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("media_meta", MEDIA_META)]
    )

    def probe_one(b: bytes) -> dict:
        kind = sniff_media(b)
        if kind == "wav":
            return _decode_wav(b, 1)[1]
        if kind in ("png", "jpeg", "gif"):
            w, h = _image_dims(b, kind)
            return {
                "media_type": "image",
                "format": kind,
                "width": w,
                "height": h,
                "duration_s": None,
            }
        return {
            "media_type": None,
            "format": None,
            "width": None,
            "height": None,
            "duration_s": None,
        }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "media_meta": pdf[content_col].map(
                        lambda b: probe_one(bytes(b))
                    ),
                }
            )

    return repartition_for_compute(df.select(id_col, content_col)).mapInPandas(
        run, schema
    )


def _gif_lzw_decode(data: bytes, min_code: int, n_expected: int) -> list[int]:
    """Pure-stdlib GIF-variant LZW decode (LSB-first bit packing,
    CLEAR/END codes, 12-bit code-width cap). Returns ``n_expected``
    palette indices."""
    clear = 1 << min_code
    end = clear + 1
    code_size = min_code + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits and len(out) < n_expected:
        code = 0
        for i in range(code_size):
            p = bitpos + i
            code |= ((data[p >> 3] >> (p & 7)) & 1) << i
        bitpos += code_size
        if code == clear:
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            code_size = min_code + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        else:
            if code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]
            else:
                raise ValueError(f"corrupt GIF LZW stream (code {code})")
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        prev = entry
    if len(out) < n_expected:
        raise ValueError(
            f"GIF LZW underrun: {len(out)} of {n_expected} pixels"
        )
    return list(out[:n_expected])


def _deinterlace_rows(idxs: list[int], w: int, h: int) -> list[int]:
    """Undo GIF 4-pass interlacing: decoded rows arrive in pass order
    (rows 0,8,16.. then 4,12.. then 2,6,10.. then 1,3,5..) and are
    scattered back to their true positions."""
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    out = [0] * (w * h)
    for src, dst in enumerate(order):
        out[dst * w : (dst + 1) * w] = idxs[src * w : (src + 1) * w]
    return out


def gif_frame_grays(
    content: bytes, max_frames: int | None = None
) -> list[tuple[int, int, list[int]]]:
    """REAL pure-stdlib multi-frame GIF decode: block walk (extensions
    skipped, image descriptors decoded) → LZW inflate → deinterlace
    where flagged → palette → 8-bit grayscale, per frame. Frames
    decode INDEPENDENTLY — no disposal-method compositing — which is
    exactly what keyframe hashing wants (each stored frame is a
    keyframe candidate).

    Returns ``[(width, height, gray_pixels), ...]`` in stream order,
    capped at ``max_frames``."""
    if sniff_media(content) != "gif" or len(content) < 13:
        raise ValueError("not a GIF")
    flags = content[10]
    pos = 13
    gct = b""
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = content[pos : pos + 3 * n]
        pos += 3 * n
    frames: list[tuple[int, int, list[int]]] = []
    try:
        frames = _gif_walk_frames(content, pos, gct, max_frames)
    except (IndexError, KeyError, struct.error) as exc:
        # Truncated descriptors (struct.error), truncation before the
        # LZW min-code byte (IndexError) and corrupt first-code LZW
        # streams (KeyError) must all surface as ValueError — the one
        # exception class callers treat as "skip this blob, keep the
        # job alive".
        raise ValueError(f"corrupt GIF ({type(exc).__name__}): {exc}") from exc
    return frames


def _gif_walk_frames(
    content: bytes, pos: int, gct: bytes, max_frames: int | None
) -> list[tuple[int, int, list[int]]]:
    frames: list[tuple[int, int, list[int]]] = []
    while pos < len(content):
        b = content[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label byte + data sub-blocks
            pos += 2
            while pos < len(content) and content[pos] != 0:
                pos += content[pos] + 1
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        fw, fh = struct.unpack("<HH", content[pos + 5 : pos + 9])
        lflags = content[pos + 9]
        pos += 10
        lct = b""
        if lflags & 0x80:
            n = 2 << (lflags & 0x07)
            lct = content[pos : pos + 3 * n]
            pos += 3 * n
        lzw_min = content[pos]
        pos += 1
        data = bytearray()
        while pos < len(content) and content[pos] != 0:
            ln = content[pos]
            data += content[pos + 1 : pos + 1 + ln]
            pos += ln + 1
        pos += 1
        idxs = _gif_lzw_decode(bytes(data), lzw_min, fw * fh)
        if lflags & 0x40:
            idxs = _deinterlace_rows(idxs, fw, fh)
        pal = lct or gct
        if not pal:
            # GCT and LCT are both optional per spec; without either
            # there is no defined color for any index — corrupt for
            # our purposes (raise ValueError, the skippable class,
            # never IndexError out of a task)
            raise ValueError("GIF frame has no color table")
        n_pal = len(pal) // 3
        if any(i >= n_pal for i in idxs):
            raise ValueError("GIF pixel index beyond the color table")
        gray = [
            (pal[3 * i] * 299 + pal[3 * i + 1] * 587 + pal[3 * i + 2] * 114)
            // 1000
            for i in idxs
        ]
        frames.append((int(fw), int(fh), gray))
        if max_frames is not None and len(frames) >= max_frames:
            break
    return frames


def gif_keyframes(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_frames: int = 8,
) -> DataFrame:
    """REAL keyframe extraction for animated GIFs (the declared video
    gap closed for the one container stdlib can decode): each GIF
    binary explodes into one row per stored frame — dimensions, an
    md5 of the frame's grayscale pixels, and the frame's 60-bit dHash
    through the SAME block-mean kernel the still-image path uses
    (``_dhash60_from_gray``), so frame-level near-dup joins compose
    with ``phash_near_pairs`` unchanged. NULL-content and non-GIF
    rows are skipped, and a corrupt GIF (truncated LZW, missing color
    table, out-of-palette indices) skips THAT ROW rather than failing
    the task — the DLQ discipline: one bad blob in a 100 TB corpus
    must never abort the job (route the skips through
    ``split_quarantine`` upstream if they need accounting). True
    video codecs remain the declared ``sample_frames``
    NotImplementedError. Arrow-batched mapInPandas, 1 row in →
    n_frames rows out."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("frame_md5", T.StringType()),
            T.StructField("dhash", T.LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {f.name: [] for f in schema.fields}
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                b = bytes(content)
                if sniff_media(b) != "gif":
                    continue
                try:
                    frames = gif_frame_grays(b, max_frames)
                except ValueError:
                    continue  # corrupt blob: skip the row, not the job
                for k, (fw, fh, gray) in enumerate(frames):
                    out["id"].append(int(rid))
                    out["frame_idx"].append(k)
                    out["width"].append(fw)
                    out["height"].append(fh)
                    out["frame_md5"].append(
                        hashlib.md5(bytes(gray)).hexdigest()
                    )
                    out["dhash"].append(_dhash60_from_gray(gray, fw, fh))
            yield pd.DataFrame(out)

    from ..session import repartition_for_compute

    return (
        repartition_for_compute(
            df.filter(F.col(content_col).isNotNull()).select(
                id_col, content_col
            )
        )
        .mapInPandas(run, schema)
        .withColumnRenamed("id", id_col)
    )


def sample_frames(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    n_frames: int = 4,
    mode: str = "fake",
) -> DataFrame:
    """Video-style frame sampling: each binary explodes into
    ``n_frames`` evenly-spaced byte slices with offset metadata and a
    per-frame digest (a real implementation would seek keyframes; the
    slicing/fan-out plumbing is identical). 1 row in → n rows out via
    mapInPandas — the UDTF shape.
    """
    if mode == "real":
        raise NotImplementedError(
            "real keyframe decode for VIDEO CODECS needs ffmpeg bindings "
            "(no stdlib path exists); animated GIFs have a REAL stdlib "
            "decode path in gif_keyframes(); mode='fake' runs the "
            "identical slicing/fan-out plumbing over raw byte ranges"
        )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("byte_start", T.LongType()),
            T.StructField("byte_len", T.LongType()),
            T.StructField("frame_md5", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in schema.fields}
            for rid, content in zip(pdf[id_col], pdf[content_col]):
                b = bytes(content)
                step = len(b) // n_frames
                if step == 0:
                    continue  # shorter than one frame per slot → skip
                for k in range(n_frames):
                    sl = b[k * step : (k + 1) * step]
                    out["id"].append(int(rid))
                    out["frame_idx"].append(k)
                    out["byte_start"].append(k * step)
                    out["byte_len"].append(len(sl))
                    out["frame_md5"].append(hashlib.md5(sl).hexdigest())
            yield pd.DataFrame(out)

    return repartition_for_compute(df.select(id_col, content_col)).mapInPandas(
        run, schema
    )


def with_media_metadata(
    df: DataFrame,
    content_col: str = "content",
    media_type: str = "image",
    fmt: str = "raw",
) -> DataFrame:
    """Attach the typed metadata struct (decode-free fields only; a
    real decoder would fill width/height/duration)."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("double").alias("duration_s"),
        ),
    )


# ---- perceptual hashing (image near-dup) ---------------------------

def _block_mean_resize(
    gray: list[int], w: int, h: int, out_w: int, out_h: int
) -> list[float]:
    """Area-average (block-mean) downsample of a row-major grayscale
    image to out_w×out_h — the resize kernel behind thumbnails and the
    dHash grid. Each output cell averages the source-pixel rectangle
    given by its rounded boundaries; ``x1 = max(x0+1, ...)`` guarantees
    EVERY cell covers at least one pixel, so upscales (w < out_w or
    h < out_h) replicate nearest source pixels instead of silently
    averaging zero pixels to 0.0 (which gave degenerate dHash bits on
    tiny images). A ZERO-dimension source (a spec-parsable 0xN GIF/PNG
    descriptor) has no pixels to replicate — defined as the all-zero
    grid, the pre-round-6 behavior. Downscales tile exactly —
    O(pixels)."""
    if w <= 0 or h <= 0:
        return [0.0] * (out_w * out_h)

    def _bounds(n_src: int, n_out: int, g: int) -> tuple[int, int]:
        lo = g * n_src // n_out
        return lo, max(lo + 1, (g + 1) * n_src // n_out)

    out = []
    for gy in range(out_h):
        y0, y1 = _bounds(h, out_h, gy)
        for gx in range(out_w):
            x0, x1 = _bounds(w, out_w, gx)
            s = 0
            for y in range(y0, y1):
                base = y * w
                for x in range(x0, x1):
                    s += gray[base + x]
            out.append(s / ((y1 - y0) * (x1 - x0)))
    return out


def _dhash60_from_gray(gray: list[int], w: int, h: int) -> int:
    """dHash over an 8-bit grayscale image: block-mean downsample to a
    9×8 grid, then one bit per horizontal neighbor pair (left mean <
    right mean), row-major. The classic scheme yields 64 bits; this
    packs the FIRST 60 (rows 0-6 fully + 4 bits of row 7) so the hash
    rides a non-negative signed 64-bit long on every engine — the
    repo's cross-engine integer discipline. Robust to rescaling and
    small edits; brightness shifts flip few difference bits."""
    gw, gh = 9, 8
    means = _block_mean_resize(gray, w, h, gw, gh)
    bits = 0
    n = 0
    for gy in range(gh):
        for gx in range(gw - 1):
            if n >= 60:
                break
            a = means[gy * gw + gx]
            b = means[gy * gw + gx + 1]
            bits = (bits << 1) | (1 if a < b else 0)
            n += 1
    return bits << (60 - n) if n < 60 else bits


def _fake_dhash60(content: bytes) -> int:
    """Deterministic stand-in hash for non-decodable content: the
    first 15 md5 hex digits as a 60-bit int — exactly replayable in
    SQL (the oracle arm)."""
    return int(hashlib.md5(content).hexdigest()[:15], 16)


#: the md5 stand-in hash as a Catalyst expression — bit-identical to
#: ``_fake_dhash60`` (15 hex digits = 60 bits, fits a signed long
#: exactly; ``conv`` is exact below 64 bits)
def _fake_dhash60_sql(content: Column) -> Column:
    return F.conv(F.substring(F.md5(content), 1, 15), 16, 10).cast("long")


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "auto",
) -> DataFrame:
    """(id, dhash): 60-bit perceptual hash per binary document.

    ``mode='auto'``: PNG content gets the REAL pipeline — stdlib pixel
    decode (``_png_gray_pixels``) → 9×8 block means → difference bits;
    anything else falls back to the deterministic md5 stand-in (the
    stub discipline multimodal_features uses, SQL-replayable).
    ``mode='fake'`` forces the stand-in for every row (the
    oracle-gated arm).

    Boundary discipline (guide §4, r11): the md5 stand-in is pure
    Catalyst (``conv(substr(md5, 1, 15), 16, 10)`` — bit-identical to
    ``int(md5hex[:15], 16)``), so ``mode='fake'`` has ZERO Python in
    the plan, and the auto arm ships ONLY the PNG bytes across the
    Python boundary: the decode is a vectorized pandas UDF over a
    column that is NULL for every non-PNG row (nulls cross as a
    validity bit, not payload), coalesced with the in-row stand-in.
    The former shape pickled EVERY blob into Python to md5 it there."""
    if mode not in ("auto", "fake"):
        raise ValueError(f"mode must be 'auto' or 'fake', got {mode!r}")

    from ..session import repartition_for_compute

    src = repartition_for_compute(
        df.filter(F.col(content_col).isNotNull()).select(id_col, content_col)
    )
    fake = _fake_dhash60_sql(F.col(content_col))
    if mode == "fake":
        return src.select(
            F.col(id_col).cast("long").alias(id_col), fake.alias("dhash")
        )

    @F.pandas_udf("long")
    def png_dhash(contents: pd.Series) -> pd.Series:
        out = []
        for b in contents:
            if b is None:
                out.append(None)
                continue
            content = bytes(b)
            w, h = _image_dims(content, "png")
            out.append(_dhash60_from_gray(_png_gray_pixels(content), w, h))
        return pd.Series(out, dtype="object")

    is_png = F.substring(F.col(content_col), 1, 8) == F.lit(_PNG_MAGIC)
    return src.select(
        F.col(id_col).cast("long").alias(id_col),
        F.coalesce(
            png_dhash(F.when(is_png, F.col(content_col))), fake
        ).alias("dhash"),
    )


def phash_near_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 6,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate image pairs from perceptual hashes: band the
    60-bit hash into ``n_bands`` 15-bit slices, candidates are pairs
    sharing ≥1 exact band (equi-join on (band index, band value) —
    the LSH shape: cost scales with band collisions, never pairs²),
    verified by popcount hamming ≤ ``max_hamming``. Pure Catalyst bit
    arithmetic — no Python in the pair path. Recall follows the
    banding pigeonhole: a pair within ``max_hamming`` surfaces iff
    some band is untouched (same contract as MinHash banding; more
    bands → higher recall, more candidates)."""
    width = 60 // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.shiftright(F.col("h"), j * width)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for j in range(n_bands)
        ]
    )
    # both self-join sides consume the hash relation; without a cut
    # each re-runs the WHOLE upstream hash computation — for callers
    # like image_phash_pairs that is a second full Python
    # (mapInPandas) decode pass over the blobs (r10 audit). Lazy cut:
    # the first side materializes the (id, hash) rows once.
    hashes = hashes.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("h")
    ).localCheckpoint(eager=False)
    ex = hashes.select(
        "id", "h", F.explode(bands).alias("b")
    ).select("id", "h", F.col("b.j").alias("j"), F.col("b.bv").alias("bv"))
    a = ex.alias("a")
    b = ex.alias("b")
    cand = (
        a.join(b, ["j", "bv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("ha"),
            F.col("b.h").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("bigint")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _audio_dhash60(content: bytes) -> int:
    """60-bit audio fingerprint from REAL WAV decode: 61 per-window
    RMS energies (``_decode_wav``'s summary at 61 dims), one bit per
    adjacent-window comparison (rms[i] < rms[i+1]). Gain-invariant
    (uniform amplitude scaling preserves every comparison), robust to
    resampling at the ~window scale — the audio member of the dHash
    family."""
    feats, _ = _decode_wav(content, 61)
    bits = 0
    for i in range(60):
        bits = (bits << 1) | (1 if feats[i] < feats[i + 1] else 0)
    return bits


def audio_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    mode: str = "auto",
) -> DataFrame:
    """(id, dhash): 60-bit fingerprint per binary audio document —
    WAV content gets the REAL stdlib decode (RMS-envelope difference
    bits); anything else the deterministic md5 stand-in (the SQL-
    replayable stub arm). Near-dup pairs come from the same
    ``phash_near_pairs`` banded hamming join the image path uses.
    Boundary discipline as in ``image_dhash``: the stand-in is pure
    Catalyst and only WAV bytes cross into Python."""
    if mode not in ("auto", "fake"):
        raise ValueError(f"mode must be 'auto' or 'fake', got {mode!r}")

    from ..session import repartition_for_compute

    src = repartition_for_compute(
        df.filter(F.col(content_col).isNotNull()).select(id_col, content_col)
    )
    fake = _fake_dhash60_sql(F.col(content_col))
    if mode == "fake":
        return src.select(
            F.col(id_col).cast("long").alias(id_col), fake.alias("dhash")
        )

    @F.pandas_udf("long")
    def wav_dhash(contents: pd.Series) -> pd.Series:
        out = []
        for b in contents:
            out.append(None if b is None else _audio_dhash60(bytes(b)))
        return pd.Series(out, dtype="object")

    is_wav = (
        F.substring(F.col(content_col), 1, 4) == F.lit(b"RIFF")
    ) & (F.substring(F.col(content_col), 9, 4) == F.lit(b"WAVE"))
    return src.select(
        F.col(id_col).cast("long").alias(id_col),
        F.coalesce(
            wav_dhash(F.when(is_wav, F.col(content_col))), fake
        ).alias("dhash"),
    )


def resize_image_gray(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    out_w: int = 8,
    out_h: int = 8,
    mode: str = "auto",
) -> DataFrame:
    """(id, src_width, src_height, pixels): block-mean grayscale
    thumbnail per binary image — the resize stage of a multimodal
    ingest pipeline (thumbnails, model-input normalization, the dHash
    grid). ``mode='auto'``: PNG content gets the REAL pipeline
    (stdlib pixel decode → area-average resample, rounded to ints);
    non-decodable content yields a deterministic md5-derived pixel
    grid (the stub discipline — plumbing, schema, and batch shape are
    real; swap the stub for a PIL/ffmpeg decode where those libs
    exist). Arrow-batched mapInPandas; the corpus never shuffles."""
    if mode not in ("auto", "fake"):
        raise ValueError(f"mode must be 'auto' or 'fake', got {mode!r}")

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("src_width", T.IntegerType()),
            T.StructField("src_height", T.IntegerType()),
            T.StructField("pixels", T.ArrayType(T.IntegerType())),
        ]
    )

    def one(b) -> tuple:
        content = bytes(b)
        if mode == "auto" and sniff_media(content) == "png":
            w, h = _image_dims(content, "png")
            px = [
                int(round(v))
                for v in _block_mean_resize(
                    _png_gray_pixels(content), w, h, out_w, out_h
                )
            ]
            return (w, h, px)
        # deterministic fake grid: one md5-derived byte per cell
        d = hashlib.md5(content).digest()
        px = [d[(i * 7) % len(d)] for i in range(out_w * out_h)]
        return (None, None, px)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [one(b) for b in pdf[content_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype("int64"),
                    "src_width": [r[0] for r in rows],
                    "src_height": [r[1] for r in rows],
                    "pixels": [r[2] for r in rows],
                }
            )

    from ..session import repartition_for_compute

    src = repartition_for_compute(
        df.filter(F.col(content_col).isNotNull()).select(id_col, content_col)
    )
    return src.mapInPandas(run, schema).withColumnRenamed("id", id_col)
