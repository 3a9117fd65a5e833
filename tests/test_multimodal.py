"""Multimodal plumbing tests: Arrow-batched feature extraction, frame
fan-out, metadata struct, and the clearly-marked real-decode stubs."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from scotustician_spark.operators.multimodal import (
    extract_media_features,
    sample_frames,
    with_media_metadata,
)


@pytest.fixture(scope="module")
def bdf(spark):
    rows = [(1, b"hello world, this is binary content"), (2, b"tiny"), (3, b"")]
    return spark.createDataFrame(rows, "doc_id long, content binary")


def test_extract_features_deterministic(bdf):
    out = {r["id"]: r for r in extract_media_features(bdf, "content", "doc_id").collect()}
    assert len(out) == 3
    for rid, content in [(1, b"hello world, this is binary content"), (2, b"tiny")]:
        h = hashlib.md5(content).hexdigest()
        assert out[rid]["content_md5"] == h
        assert out[rid]["n_bytes"] == len(content)
        assert out[rid]["features"] == [float(ord(h[j])) for j in range(8)]


def test_sample_frames_fanout_and_skip(bdf):
    frames = sample_frames(bdf, "content", "doc_id", n_frames=4).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["id"], []).append(r)
    # 36 bytes → step 9, 4 frames; 4 bytes → step 1, 4 frames; 0 bytes → skipped
    assert sorted(by_id) == [1, 2]
    for rid, rows in by_id.items():
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 1, 2, 3]
        content = b"hello world, this is binary content" if rid == 1 else b"tiny"
        step = len(content) // 4
        for r in rows:
            sl = content[r["frame_idx"] * step : (r["frame_idx"] + 1) * step]
            assert r["byte_len"] == step
            assert r["frame_md5"] == hashlib.md5(sl).hexdigest()


def test_real_mode_unknown_bytes_raise(bdf):
    # text bytes are not a recognized media container: the real path
    # must refuse loudly, not silently fall back to the fake features
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="unrecognized media container"):
        extract_media_features(
            bdf.filter(F.col("doc_id") == 1), mode="real"
        ).collect()
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        sample_frames(bdf, mode="real")


def _make_wav(n_frames: int = 8000, rate: int = 8000) -> bytes:
    """1-channel 16-bit PCM: first half silence, second half a
    full-scale square wave (RMS == amplitude)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        half = n_frames // 2
        samples = [0] * half + [
            32767 if i % 2 == 0 else -32767 for i in range(n_frames - half)
        ]
        w.writeframes(struct.pack(f"<{n_frames}h", *samples))
    return buf.getvalue()


def test_real_wav_decode_distributed(spark):
    """REAL audio decode (stdlib wave parser) through the distributed
    mapInPandas path: silence and the loud half land in the right
    feature chunks, duration comes from the actual header."""
    wav = _make_wav()
    df = spark.createDataFrame([(1, wav)], "doc_id long, content binary")
    out = extract_media_features(df, mode="real", n_dims=4).collect()
    assert len(out) == 1
    feats = out[0]["features"]
    assert len(feats) == 4
    assert feats[0] == 0.0 and feats[1] == 0.0  # silent half
    assert feats[2] > 0.99 and feats[3] > 0.99  # square wave RMS ≈ 1
    assert out[0]["n_bytes"] == len(wav)


def test_probe_media_metadata_headers(spark):
    """Header-level probe needs no optional deps: WAV duration and
    PNG/GIF/JPEG dimensions parse from raw struct layouts."""
    import struct

    from scotustician_spark.operators.multimodal import probe_media_metadata

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x02\x00\x00\x00"
        + b"\x00\x00\x00\x00"
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", 240, 360)
        + b"\x00" * 10
    )
    rows = [(1, _make_wav()), (2, png), (3, gif), (4, jpeg), (5, b"plain")]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {
        r["id"]: r["media_meta"].asDict()
        for r in probe_media_metadata(df).collect()
    }
    assert got[1]["media_type"] == "audio" and got[1]["format"] == "wav"
    assert got[1]["duration_s"] == pytest.approx(1.0)
    assert (got[2]["width"], got[2]["height"]) == (640, 480)
    assert (got[3]["width"], got[3]["height"]) == (320, 200)
    assert (got[4]["width"], got[4]["height"]) == (360, 240)
    assert got[4]["format"] == "jpeg"
    assert got[5]["media_type"] is None and got[5]["format"] is None


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _make_png(
    rows: list[bytes],
    width: int,
    color: int,
    filters: list[int] | None = None,
    plte: bytes = b"",
    depth: int = 8,
) -> bytes:
    """Minimal REAL PNG encoder for fixtures: applies the requested
    per-scanline filter (0..4 per the PNG spec) so the decoder's
    unfilter paths are each exercised against ground-truth pixels."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bpp = channels * (depth // 8)
    filters = filters or [0] * len(rows)
    out = bytearray()
    prev = bytes(len(rows[0]))
    for raw, ft in zip(rows, filters):
        out.append(ft)
        for i, x in enumerate(raw):
            a = raw[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                f = x
            elif ft == 1:
                f = (x - a) & 0xFF
            elif ft == 2:
                f = (x - b) & 0xFF
            elif ft == 3:
                f = (x - ((a + b) >> 1)) & 0xFF
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                f = (x - pr) & 0xFF
            out.append(f)
        prev = raw
    ihdr = struct.pack(">IIBBBBB", width, len(rows), depth, color, 0, 0, 0)
    body = _png_chunk(b"IHDR", ihdr)
    if plte:
        body += _png_chunk(b"PLTE", plte)
    body += _png_chunk(b"IDAT", zlib.compress(bytes(out)))
    body += _png_chunk(b"IEND", b"")
    return b"\x89PNG\r\n\x1a\n" + body


def test_png_pixel_decode_stdlib_all_filters():
    """REAL PNG pixel decode with zero optional deps: every filter
    type (None/Sub/Up/Average/Paeth) unfilters back to the identical
    ground-truth grayscale pixels."""
    from scotustician_spark.operators.multimodal import _png_gray_pixels

    rows = [bytes([10, 20, 30, 40]), bytes([50, 60, 70, 80]),
            bytes([90, 100, 110, 120]), bytes([130, 140, 150, 160]),
            bytes([170, 180, 190, 200])]
    expected = [v for r in rows for v in r]
    for filters in ([0] * 5, [1] * 5, [0, 2, 2, 2, 2], [3] * 5, [4] * 5,
                    [0, 1, 2, 3, 4]):
        png = _make_png(rows, width=4, color=0, filters=filters)
        assert _png_gray_pixels(png) == expected, filters


def test_png_pixel_decode_color_types():
    """RGB/RGBA reduce via the ITU-R 601 integer luma; palette images
    look up PLTE then reduce; gray+alpha keeps the gray channel."""
    from scotustician_spark.operators.multimodal import _png_gray_pixels

    # 2×1 RGB: pure red, pure white
    rgb = _make_png([bytes([255, 0, 0, 255, 255, 255])], 2, color=2,
                    filters=[4])
    assert _png_gray_pixels(rgb) == [255 * 299 // 1000, 255]
    # RGBA: alpha ignored for luma
    rgba = _make_png([bytes([0, 255, 0, 7, 0, 0, 255, 9])], 2, color=6,
                     filters=[1])
    assert _png_gray_pixels(rgba) == [255 * 587 // 1000, 255 * 114 // 1000]
    # palette: index 1 → (255, 255, 0)
    pal = _make_png([bytes([1, 0])], 2, color=3,
                    plte=bytes([0, 0, 0, 255, 255, 0]))
    assert _png_gray_pixels(pal) == [(255 * 299 + 255 * 587) // 1000, 0]
    # gray+alpha
    ga = _make_png([bytes([42, 200, 77, 10])], 2, color=4, filters=[2])
    assert _png_gray_pixels(ga) == [42, 77]


def test_real_image_pixels_distributed(spark):
    """Pixel decode through the distributed mapInPandas path: a black
    4×4 grayscale PNG puts all histogram mass in bucket 0 — and this
    executes for real in the no-PIL container (stdlib PNG decoder);
    JPEG pixels remain PIL-gated and must raise loudly without it."""
    black = _make_png([bytes(4)] * 4, width=4, color=0)
    df = spark.createDataFrame([(1, black)], "doc_id long, content binary")
    feats = extract_media_features(df, mode="real", n_dims=8).collect()[0][
        "features"
    ]
    assert feats[0] == pytest.approx(1.0) and sum(feats) == pytest.approx(1.0)

    try:
        import PIL  # noqa: F401
    except ImportError:
        import struct

        from pyspark.errors import PythonException

        jpeg = (
            b"\xff\xd8\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 2, 2) + b"\x00" * 10
        )
        jdf = spark.createDataFrame([(1, jpeg)], "doc_id long, content binary")
        with pytest.raises(PythonException, match="needs PIL"):
            extract_media_features(jdf, mode="real").collect()


def test_png_pixel_decode_matches_pil_when_available():
    """When PIL IS importable the two decoders agree bit-for-bit on
    the grayscale histogram (PIL uses the same ITU-R 601 luma)."""
    try:
        from PIL import Image
    except ImportError:
        pytest.skip("PIL not installed — stdlib path covered above")
    import io

    from scotustician_spark.operators.multimodal import (
        _hist_features,
        _png_gray_pixels,
    )

    rows = [bytes([(3 * x + 7 * y) % 256 for x in range(24)]) for y in range(5)]
    png = _make_png(rows, width=8, color=2, filters=[0, 1, 2, 3, 4])
    ours = _hist_features(_png_gray_pixels(png), 16)
    img = Image.open(io.BytesIO(png)).convert("L")
    hist = img.histogram()
    total = float(sum(hist))
    pil = [
        sum(hist[j * 256 // 16 : (j + 1) * 256 // 16]) / total
        for j in range(16)
    ]
    assert ours == pytest.approx(pil)


def test_media_metadata_struct(bdf):
    out = with_media_metadata(bdf, media_type="video", fmt="mp4")
    row = out.select("media_meta").limit(1).collect()[0]["media_meta"]
    assert row["media_type"] == "video" and row["format"] == "mp4"
    assert row["width"] is None and row["duration_s"] is None
    # schema is the typed struct, not a map
    assert dict(out.dtypes)["media_meta"].startswith("struct<media_type:string")


def test_image_dhash_real_png_arm(spark):
    """REAL dHash path: two PNGs differing in one pixel land within a
    small hamming distance and pair through the banded join; a
    structurally different image does not. Fake arm (non-PNG bytes)
    equals the md5 stand-in and is engine-deterministic."""
    import hashlib

    from scotustician_spark.operators.multimodal import (
        _dhash60_from_gray,
        _fake_dhash60,
        _png_gray_pixels,
        image_dhash,
        phash_near_pairs,
    )

    w = h = 16
    # gradient image; B differs from A in ONE pixel; C is the inverse
    base = [bytes([(x * 16 + y) % 256 for x in range(w)]) for y in range(h)]
    tweak = [bytearray(r) for r in base]
    tweak[3][3] = (tweak[3][3] + 8) % 256
    inv = [bytes([255 - b for b in r]) for r in base]
    png_a = _make_png(base, w, 0)
    png_b = _make_png([bytes(r) for r in tweak], w, 0)
    png_c = _make_png(inv, w, 0)

    da = _dhash60_from_gray(_png_gray_pixels(png_a), w, h)
    db = _dhash60_from_gray(_png_gray_pixels(png_b), w, h)
    dc = _dhash60_from_gray(_png_gray_pixels(png_c), w, h)
    assert 0 <= da < (1 << 60)
    assert bin(da ^ db).count("1") <= 3  # one-pixel edit: tiny distance
    assert bin(da ^ dc).count("1") >= 20  # inverse image: far away

    df = spark.createDataFrame(
        [(1, png_a), (2, png_b), (3, png_c), (4, b"not an image")],
        "doc_id long, content binary",
    )
    got = {r["doc_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert got[1] == da and got[2] == db and got[3] == dc
    assert got[4] == _fake_dhash60(b"not an image") == int(
        hashlib.md5(b"not an image").hexdigest()[:15], 16
    )

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_pairs(
            image_dhash(df), max_hamming=6
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_audio_dhash_real_wav_arm(spark):
    """REAL audio fingerprint: a gain-scaled copy of a WAV matches its
    original EXACTLY (RMS-envelope comparisons are gain-invariant), a
    different envelope lands far away, and the banded hamming join
    pairs only the true near-dups. Non-WAV bytes use the md5 stand-in."""
    import io
    import math
    import struct
    import wave

    from scotustician_spark.operators.multimodal import (
        _audio_dhash60,
        _fake_dhash60,
        audio_dhash,
        phash_near_pairs,
    )

    def tone_wav(freqs: list[float], gain: float = 0.9, n: int = 6100) -> bytes:
        # piecewise tones: one frequency per equal segment -> a
        # distinctive RMS envelope per segment boundary
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            seg = n // len(freqs)
            samples = []
            for k, f in enumerate(freqs):
                amp = gain * 32000 * (0.3 + 0.7 * (k % 2))
                samples += [
                    int(amp * math.sin(2 * math.pi * f * i / 8000))
                    for i in range(seg)
                ]
            samples += [0] * (n - len(samples))
            w.writeframes(struct.pack(f"<{n}h", *samples))
        return buf.getvalue()

    a = tone_wav([440, 880, 220, 660], gain=0.9)
    a_quiet = tone_wav([440, 880, 220, 660], gain=0.45)  # same envelope shape
    c = tone_wav([660, 220, 880, 440], gain=0.9)  # reordered envelope

    da, dq, dc = _audio_dhash60(a), _audio_dhash60(a_quiet), _audio_dhash60(c)
    assert da == dq  # gain-invariant: identical fingerprint
    assert bin(da ^ dc).count("1") >= 10

    df = spark.createDataFrame(
        [(1, a), (2, a_quiet), (3, c), (4, b"plain bytes")],
        "doc_id long, content binary",
    )
    got = {r["doc_id"]: r["dhash"] for r in audio_dhash(df).collect()}
    assert got[1] == da and got[2] == dq and got[3] == dc
    assert got[4] == _fake_dhash60(b"plain bytes")

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_pairs(audio_dhash(df), max_hamming=6).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def _lzw_encode_simple(idxs, min_code: int) -> bytes:
    """Minimal valid GIF LZW stream: CLEAR before every pixel code so
    the code table never grows and the code width stays min_code+1 —
    bulky but spec-conformant, ideal for a test encoder."""
    clear, end = 1 << min_code, (1 << min_code) + 1
    code_size = min_code + 1
    bits: list[int] = []

    def emit(c):
        for i in range(code_size):
            bits.append((c >> i) & 1)

    emit(clear)
    for v in idxs:
        emit(v)
        emit(clear)
    emit(end)
    by = bytearray()
    for i in range(0, len(bits), 8):
        b = 0
        for j, bit in enumerate(bits[i : i + 8]):
            b |= bit << j
        by.append(b)
    return bytes(by)


def _make_gif(frames, w: int, h: int) -> bytes:
    """Animated GIF with a 4-entry global palette (black, white,
    mid-gray, light-gray); ``frames`` are lists of palette indices."""
    palette = bytes(
        [0, 0, 0, 255, 255, 255, 128, 128, 128, 192, 192, 192]
    )
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x81, 0, 0])  # GCT present, 4 entries
    out += palette
    for idxs in frames:
        assert len(idxs) == w * h
        out += b"\x2c" + bytes(4)  # image descriptor, left=top=0
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes([0])  # no LCT, not interlaced
        out += bytes([2])  # lzw min code size
        data = _lzw_encode_simple(idxs, 2)
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_keyframes_real_multiframe_decode(spark):
    """The declared video-keyframe gap, closed for the one container
    stdlib can decode: a hand-built 3-frame animated GIF decodes to 3
    keyframe rows with correct grayscale content and dHash through
    the shared block-mean kernel; non-GIF rows are skipped; an
    interlaced frame deinterlaces to the identical pixels."""
    from scotustician_spark.operators.multimodal import (
        _dhash60_from_gray,
        gif_frame_grays,
        gif_keyframes,
    )

    w = h = 10
    f_black = [0] * (w * h)
    f_white = [1] * (w * h)
    f_grad = [(x // 3) % 4 for y in range(h) for x in range(w)]
    gif = _make_gif([f_black, f_white, f_grad], w, h)

    # pure decode first: frame count, dims, exact grayscale values
    grays = gif_frame_grays(gif)
    assert [g[:2] for g in grays] == [(10, 10)] * 3
    assert grays[0][2] == [0] * 100
    assert grays[1][2] == [255] * 100
    pal_gray = {0: 0, 1: 255, 2: 128, 3: 192}
    assert grays[2][2] == [pal_gray[i] for i in f_grad]

    df = spark.createDataFrame(
        [(1, gif), (2, b"not a gif"), (3, None)],
        "doc_id long, content binary",
    )
    rows = sorted(
        gif_keyframes(df.filter(F.col("content").isNotNull())).collect(),
        key=lambda r: r["frame_idx"],
    )
    assert [r["doc_id"] for r in rows] == [1, 1, 1]  # non-GIF skipped
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert rows[0]["frame_md5"] == hashlib.md5(bytes([0] * 100)).hexdigest()
    # constant frames have all-zero difference bits; the gradient
    # frame has structure -> a distinct nonzero hash
    assert rows[0]["dhash"] == 0 and rows[1]["dhash"] == 0
    want_grad = _dhash60_from_gray([pal_gray[i] for i in f_grad], w, h)
    assert rows[2]["dhash"] == want_grad != 0

    # interlaced round-trip: encode the gradient frame with its rows
    # in GIF 4-pass interlace order + the flag set; the decoder must
    # scatter them back to the identical pixel array
    order = (
        list(range(0, h, 8)) + list(range(4, h, 8))
        + list(range(2, h, 4)) + list(range(1, h, 2))
    )
    rows = [f_grad[rr * w : (rr + 1) * w] for rr in order]
    il_idxs = [v for row in rows for v in row]
    il = bytearray(_make_gif([il_idxs], w, h))
    desc = il.index(b"\x2c")
    il[desc + 9] |= 0x40
    (iw, ih, igray) = gif_frame_grays(bytes(il))[0]
    assert (iw, ih) == (w, h) and igray == grays[2][2]

    # max_frames cap
    assert len(gif_frame_grays(gif, max_frames=2)) == 2


def test_gif_lzw_decoder_growing_codes():
    """Exercise the REAL LZW path (dictionary growth + code-width
    bump), not just the clear-heavy test encoder: a conformant
    growing-dictionary encoder round-trips through the decoder."""
    from scotustician_spark.operators.multimodal import _gif_lzw_decode

    def lzw_encode_full(idxs, min_code):
        clear, end = 1 << min_code, (1 << min_code) + 1
        code_size = min_code + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        bits = []

        def emit(c, size):
            for i in range(size):
                bits.append((c >> i) & 1)

        emit(clear, code_size)
        prev = b""
        for v in idxs:
            cur = prev + bytes([v])
            if cur in table:
                prev = cur
                continue
            emit(table[prev], code_size)
            table[cur] = next_code
            next_code += 1
            # encoder bumps ONE ENTRY LATER than the decoder: the
            # decoder's table add lags the encoder's by one code (its
            # first post-clear read adds nothing), so the decoder
            # bumps at next_code == 2^w while the encoder must bump
            # at next_code == 2^w + 1 to keep widths aligned.
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
            prev = bytes([v])
        if prev:
            emit(table[prev], code_size)
        emit(end, code_size)
        by = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for j, bit in enumerate(bits[i : i + 8]):
                b |= bit << j
            by.append(b)
        return bytes(by)

    import random

    rng = random.Random(7)
    idxs = [rng.randrange(4) for _ in range(4000)]
    enc = lzw_encode_full(idxs, 2)
    assert _gif_lzw_decode(enc, 2, len(idxs)) == idxs
    assert len(enc) < len(idxs)  # the dictionary actually compressed


def test_resize_image_gray_real_and_fake(spark):
    """REAL resize arm: block-mean thumbnail of a ground-truth PNG
    equals the Python-side area averages; fake arm is deterministic
    with the declared grid shape."""
    from scotustician_spark.operators.multimodal import (
        _block_mean_resize,
        _png_gray_pixels,
        resize_image_gray,
    )

    w = h = 16
    rows = [bytes([(x * 16 + y) % 256 for x in range(w)]) for y in range(h)]
    png = _make_png(rows, w, 0)
    df = spark.createDataFrame(
        [(1, png), (2, b"not an image")], "doc_id long, content binary"
    )
    got = {r["doc_id"]: r for r in resize_image_gray(df, out_w=4, out_h=4).collect()}
    want = [
        int(round(v))
        for v in _block_mean_resize(_png_gray_pixels(png), w, h, 4, 4)
    ]
    assert got[1]["pixels"] == want
    assert (got[1]["src_width"], got[1]["src_height"]) == (16, 16)
    assert len(got[2]["pixels"]) == 16 and got[2]["src_width"] is None
    # 4x4 block means of the column-major-ish gradient: strictly
    # structured, not constant
    assert len(set(got[1]["pixels"])) > 1


def test_block_mean_resize_small_images_cover_every_cell():
    """Images narrower/shorter than the output grid: every output
    cell must average >=1 real source pixel (nearest replication),
    never default to 0.0 — a 2x2 all-white image resized to the 9x8
    dHash grid stays all-white (ADVICE r5)."""
    from scotustician_spark.operators.multimodal import (
        _block_mean_resize,
        _dhash60_from_gray,
    )

    means = _block_mean_resize([255, 255, 255, 255], 2, 2, 9, 8)
    assert means == [255.0] * 72
    # dHash of a constant tiny image: all difference bits are 0 (no
    # left<right anywhere) — not the degenerate mixed bits zero-fill
    # produced.
    assert _dhash60_from_gray([255, 255, 255, 255], 2, 2) == 0
    # 1xN and Nx1 degenerate shapes still cover the grid
    assert _block_mean_resize([7], 1, 1, 9, 8) == [7.0] * 72
    grad = _block_mean_resize([0, 100, 200], 3, 1, 9, 8)
    assert len(grad) == 72 and min(grad) == 0.0 and max(grad) == 200.0
    # downscale still tiles exactly: 4x4 ones -> 2x2 of means 1.0
    assert _block_mean_resize([1] * 16, 4, 4, 2, 2) == [1.0] * 4


def test_gif_parse_failures_always_valueerror():
    """ADVICE r6: truncated descriptors (struct.error), truncation
    before the LZW min-code byte (IndexError) and corrupt LZW streams
    (KeyError) must all surface as ValueError — the one class the
    keyframe operator skips — never escape and abort a task."""
    import struct as _st

    from scotustician_spark.operators.multimodal import gif_frame_grays

    h = b"GIF89a" + _st.pack("<HH", 1, 1) + bytes([0x80, 0, 0])
    gct = bytes([0, 0, 0, 255, 255, 255])
    img = b"\x2c" + _st.pack("<HHHH", 0, 0, 1, 1) + bytes([0])
    lzw = bytes([2, 2, 0x44, 0x01, 0])
    g = h + gct + img + lzw + b"\x3b"
    assert len(gif_frame_grays(g)) == 1
    # every truncation point either parses (possibly to zero frames)
    # or raises exactly ValueError
    for cut in range(13, len(g)):
        try:
            gif_frame_grays(g[:cut])
        except ValueError:
            pass
    # corrupt first LZW code (beyond the initial table) → ValueError
    bad = h + gct + img + bytes([2, 2, 0xFF, 0x0F, 0]) + b"\x3b"
    try:
        gif_frame_grays(bad)
    except ValueError:
        pass


def test_fake_sql_arm_bit_identical_to_fake(spark, bdf):
    """extract_media_features(mode='fake') runs the md5 stand-in as
    Catalyst expressions; it must be BIT-identical on every column to
    the Python stand-in (``_fake_features``) applied in the driver to
    the same bytes (the r10 hash_sql discipline: the expression form
    is only sanctioned because it is provably the same function)."""
    import struct as _s

    from scotustician_spark.operators.multimodal import _fake_features

    out = extract_media_features(bdf, "content", "doc_id", n_dims=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "EvalPython" not in plan, plan
    got = {r["id"]: r for r in out.collect()}
    rows = {r["doc_id"]: bytes(r["content"]) for r in bdf.collect()}
    assert set(got) == set(rows) == {1, 2, 3}
    for i, content in rows.items():
        assert got[i]["n_bytes"] == len(content)
        assert got[i]["content_md5"] == hashlib.md5(content).hexdigest()
        # doubles compared by exact bit pattern
        assert [_s.pack("<d", v) for v in got[i]["features"]] == [
            _s.pack("<d", v) for v in _fake_features(content, 8)
        ]


def test_fake_mode_rejects_dims_past_the_md5_digest(bdf):
    """The stand-in has 32 hex digits; a wider request must fail
    loudly instead of padding with 0.0 features."""
    with pytest.raises(ValueError, match="n_dims"):
        extract_media_features(bdf, n_dims=33)
    with pytest.raises(ValueError, match="n_dims"):
        extract_media_features(bdf, n_dims=0)
    assert len(extract_media_features(bdf, n_dims=32).first()["features"]) == 32


def test_image_dhash_fake_mode_zero_python_and_identical(spark, bdf):
    """mode='fake' now plans as pure Catalyst (no Batch/ArrowEvalPython
    node) and matches the Python stand-in value for value."""
    from scotustician_spark.operators.multimodal import _fake_dhash60, image_dhash

    out = image_dhash(bdf, "content", "doc_id", mode="fake")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan, plan
    got = {r["doc_id"]: r["dhash"] for r in out.collect()}
    rows = [(1, b"hello world, this is binary content"), (2, b"tiny"), (3, b"")]
    for rid, content in rows:
        assert got[rid] == _fake_dhash60(content)
