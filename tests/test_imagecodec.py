"""The pure-numpy image codec: REAL pixel math, pinned analytically.

decode/encode roundtrip, bilinear-resize exactness on images whose
interpolant is known in closed form, crop/pad geometry, and the
Spark-side decode_resize_pad operator against a local numpy replay.
"""

from __future__ import annotations

import numpy as np
import pytest

from iceberg_tracking_spark.operators.imagecodec import (
    crop_pad,
    decode_pgm,
    encode_pgm,
    is_pgm,
    resize_bilinear,
)


def _img(i: int, h: int = 24, w: int = 32) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return ((xx * (i + 2) + yy * (i + 5) + i * 37) % 256).astype(np.uint8)


def test_pgm_roundtrip_exact():
    for i in range(5):
        m = _img(i, 24 + i, 32 + 2 * i)
        out = decode_pgm(encode_pgm(m))
        assert out.dtype == np.uint8 and (out == m).all()


def test_pgm_header_comments_and_whitespace():
    m = _img(3, 4, 6)
    raw = b"P5\n# a comment\n  6\t4 # trailing\n255\n" + m.tobytes()
    assert (decode_pgm(raw) == m).all()


def test_pgm_rejects_truncation_and_bad_magic():
    m = _img(1, 4, 4)
    enc = encode_pgm(m)
    assert is_pgm(enc) and not is_pgm(b"JFIF....")
    with pytest.raises(ValueError):
        decode_pgm(enc[:-3])
    with pytest.raises(ValueError):
        decode_pgm(b"P6" + enc[2:])


def test_resize_constant_image_is_exact():
    c = np.full((7, 9), 123, np.uint8)
    out = resize_bilinear(c, 20, 5)
    assert out.shape == (20, 5)
    assert np.allclose(out, 123.0)


def test_resize_identity_scale_is_exact():
    m = _img(2)
    assert np.allclose(resize_bilinear(m, *m.shape), m.astype(float))


def test_resize_linear_ramp_interpolates_exactly():
    """Bilinear on a separable linear ramp reproduces the analytic ramp
    at the half-pixel-center sample points (away from the clamped
    borders, where the interpolant is genuinely linear)."""
    h, w, oh, ow = 16, 16, 8, 32
    ramp = np.tile(np.arange(w, dtype=np.uint8), (h, 1))
    out = resize_bilinear(ramp, oh, ow)
    xs = (np.arange(ow) + 0.5) * w / ow - 0.5
    interior = (xs >= 0) & (xs <= w - 1)
    assert np.allclose(out[:, interior], np.tile(xs[interior], (oh, 1)))


def test_crop_pad_geometry():
    m = _img(0, 6, 8)
    inner = crop_pad(m, 2, 1, 3, 4)
    assert (inner == m[1:5, 2:5]).all()
    padded = crop_pad(m, -2, -2, 12, 10, fill=7)
    assert padded.shape == (10, 12)
    assert (padded[:2, :] == 7).all() and (padded[:, :2] == 7).all()
    assert (padded[2:8, 2:10] == m[0:6, 0:8]).all()
    # fully outside → all fill
    assert (crop_pad(m, 100, 100, 3, 3, fill=9) == 9).all()


def test_spark_decode_resize_pad_matches_local_numpy(spark):
    from iceberg_tracking_spark.operators.multimodal import (
        decode_resize_pad,
        media_from_image_files,
    )
    from iceberg_tracking_spark.sources.binary import ensure_image_fixture

    path = ensure_image_fixture()
    media = media_from_image_files(spark, path)
    got = {
        r["media_id"]: r
        for r in decode_resize_pad(media, 16, 16, decode_stub=False).collect()
    }
    assert len(got) == 24
    import os

    for i in (0, 7, 23):
        with open(os.path.join(path, f"{i:04d}.pgm"), "rb") as f:
            mat = decode_pgm(f.read())
        exp = np.rint(resize_bilinear(mat, 16, 16)).astype(np.uint8)
        row = got[i]
        assert row["thumb"] == [int(v) for v in exp[:8, :8].ravel()]
        assert abs(row["out_mean"] - float(exp.mean())) < 1e-9


def test_image_scan_header_dims_match_decoded_shape(spark):
    from iceberg_tracking_spark.operators.multimodal import media_from_image_files

    rows = media_from_image_files(spark).select(
        "media_id", "width", "height", "content"
    ).collect()
    assert len(rows) == 24
    for r in rows:
        mat = decode_pgm(bytes(r["content"]))
        assert (mat.shape[1], mat.shape[0]) == (r["width"], r["height"])


# ------------------------------------------------------------- audio

def test_wav_roundtrip_and_stdlib_parity(tmp_path):
    """decode(encode(x)) == x, and the encoded bytes are a VALID wav per
    Python's independent stdlib `wave` reader."""
    import wave

    from iceberg_tracking_spark.operators.audiocodec import decode_wav, encode_wav

    s = ((np.arange(500) * 97) % 7001 - 3500).astype(np.int16)
    enc = encode_wav(s, 8000)
    dec, rate = decode_wav(enc)
    assert rate == 8000 and (dec == s).all()
    p = tmp_path / "t.wav"
    p.write_bytes(enc)
    with wave.open(str(p)) as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) == (1, 2, 8000)
        assert np.frombuffer(w.readframes(w.getnframes()), "<i2").tolist() == s.tolist()


def test_wav_rejects_unsupported_and_truncated():
    from iceberg_tracking_spark.operators.audiocodec import decode_wav, encode_wav

    enc = encode_wav(np.zeros(4, np.int16))
    with pytest.raises(ValueError):
        decode_wav(b"OggS" + enc[4:])
    stereo = bytearray(enc)
    stereo[22] = 2  # channels field
    with pytest.raises(ValueError, match="mono"):
        decode_wav(bytes(stereo))


def test_audio_features_known_signal():
    from iceberg_tracking_spark.operators.audiocodec import audio_features

    sq = np.tile([1000, -1000], 50).astype(np.int16)  # square wave
    f = audio_features(sq, 8000)
    assert f["rms"] == 1000.0 and f["peak"] == 1000.0
    assert f["zcr"] == 1.0  # crosses at every step
    assert f["duration_ms"] == 1000.0 * 100 / 8000


def test_spark_audio_scan_header_matches_decode(spark):
    from iceberg_tracking_spark.operators.audiocodec import decode_wav
    from iceberg_tracking_spark.operators.multimodal import media_from_audio_files

    rows = media_from_audio_files(spark).collect()
    assert len(rows) == 16
    for r in rows:
        samples, rate = decode_wav(bytes(r["content"]))
        assert r["sample_rate"] == rate
        assert r["n_samples"] == len(samples)


def test_audio_scan_nulls_metadata_for_noncanonical_wav(spark, tmp_path):
    """The Catalyst header parse reads fixed offsets valid only for the
    canonical 44-byte layout. decode_wav walks chunks, so a WAV with a
    LIST chunk before 'data' still decodes fine — but the scan must
    NULL its metadata (layout validation) rather than emit silently
    wrong n_samples/duration."""
    import struct

    import numpy as np

    from iceberg_tracking_spark.operators.audiocodec import decode_wav, encode_wav
    from iceberg_tracking_spark.operators.multimodal import media_from_audio_files

    samples = np.arange(-50, 50, dtype=np.int16)
    canonical = encode_wav(samples, 8000)
    # splice a LIST/INFO chunk between 'fmt ' and 'data'
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    shifted = (
        canonical[:12]
        + canonical[12:36]  # fmt chunk
        + extra
        + canonical[36:]  # data chunk onward
    )
    shifted = shifted[:4] + struct.pack("<I", len(shifted) - 8) + shifted[8:]
    (tmp_path / "0.wav").write_bytes(canonical)
    (tmp_path / "1.wav").write_bytes(shifted)

    rows = {r["media_id"]: r for r in media_from_audio_files(spark, str(tmp_path)).collect()}
    ok, odd = rows[0], rows[1]
    assert ok["sample_rate"] == 8000 and ok["n_samples"] == 100
    assert odd["sample_rate"] is None and odd["n_samples"] is None
    assert odd["duration_ms"] is None
    # ...while the chunk-walking decoder handles the same bytes fine
    dec, rate = decode_wav(bytes(odd["content"]))
    assert rate == 8000 and len(dec) == 100 and (dec == samples).all()


# ------------------------------------------------------------- video

def test_y4m_roundtrip_and_header():
    from iceberg_tracking_spark.operators.audiocodec import (
        decode_y4m,
        encode_y4m,
        is_y4m,
    )

    fr = ((np.arange(4 * 6 * 9).reshape(4, 6, 9) * 13) % 256).astype(np.uint8)
    enc = encode_y4m(fr, 30)
    assert is_y4m(enc) and enc.split(b"\n", 1)[0] == b"YUV4MPEG2 W9 H6 F30:1 Ip A1:1 Cmono"
    dec, fps = decode_y4m(enc)
    assert fps == 30 and (dec == fr).all()
    with pytest.raises(ValueError):
        decode_y4m(enc[:-5])  # truncated last frame
    with pytest.raises(ValueError):
        decode_y4m(b"RIFF" + enc[4:])


def test_spark_video_frames_match_local_numpy(spark):
    import os

    from iceberg_tracking_spark.operators.audiocodec import decode_y4m
    from iceberg_tracking_spark.operators.multimodal import (
        extract_video_frames,
        media_from_video_files,
    )
    from iceberg_tracking_spark.sources.binary import ensure_video_fixture

    path = ensure_video_fixture()
    media = media_from_video_files(spark, path)
    got = extract_video_frames(media).collect()
    by_clip: dict[int, list] = {}
    for r in got:
        by_clip.setdefault(r["media_id"], []).append(r)
    assert len(by_clip) == 12
    for i in (0, 5, 11):
        with open(os.path.join(path, f"{i:04d}.y4m"), "rb") as f:
            frames, fps = decode_y4m(f.read())
        rows = sorted(by_clip[i], key=lambda r: r["frame_idx"])
        assert len(rows) == frames.shape[0]
        for idx, r in enumerate(rows):
            assert r["fps"] == fps
            assert (r["width"], r["height"]) == (frames.shape[2], frames.shape[1])
            assert abs(r["frame_mean"] - float(frames[idx].mean())) < 1e-9


# ------------------------------------------------------- sinks / viz

def test_draw_box_outline_and_clipping():
    from iceberg_tracking_spark.operators.imagecodec import draw_box

    m = np.zeros((10, 12), np.uint8)
    out = draw_box(m, 2, 3, 5, 4, value=200)
    assert (out[3, 2:7] == 200).all() and (out[6, 2:7] == 200).all()
    assert (out[3:7, 2] == 200).all() and (out[3:7, 6] == 200).all()
    assert out[4, 3] == 0 and (m == 0).all()  # interior untouched, input intact
    clipped = draw_box(m, -3, -3, 6, 6)  # box straddles the corner
    assert (clipped[0:3, 2] == 255).all() and (clipped[2, 0:3] == 255).all()
    assert (draw_box(m, 50, 50, 4, 4) == 0).all()  # fully outside → no-op


def test_media_roundtrip_annotate_write_rescan(spark, tmp_path):
    """Full media loop: scan real PGMs → decode → draw a detection box →
    re-encode → write via the Spark sink → re-scan with binaryFile →
    decode again and verify the annotation landed (S16-S18 for real)."""
    from typing import Iterator

    import pandas as pd

    from iceberg_tracking_spark.operators.imagecodec import (
        decode_pgm,
        draw_box,
        encode_pgm,
    )
    from iceberg_tracking_spark.operators.multimodal import media_from_image_files
    from iceberg_tracking_spark.sources.binary import read_binary_files
    from iceberg_tracking_spark.sources.sinks import write_media_files

    out_dir = str(tmp_path / "annotated")

    def _annotate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mat = decode_pgm(bytes(r.content))
                rows.append((r.media_id, encode_pgm(draw_box(mat, 4, 4, 10, 8))))
            yield pd.DataFrame(rows, columns=["media_id", "content"])

    media = media_from_image_files(spark)
    annotated = media.select("media_id", "content").mapInPandas(
        _annotate, schema="media_id long, content binary"
    )
    write_media_files(annotated, out_dir, "pgm")

    back = read_binary_files(spark, out_dir, glob="*.pgm").collect()
    assert len(back) == 24
    for r in back:
        mat = decode_pgm(bytes(r["content"]))
        assert (mat[4, 4:14] == 255).all() and (mat[4:12, 13] == 255).all()


# ------------------------------------------------------------------ PNG


def test_png_roundtrip_all_filters_grey_and_rgb():
    """encode→decode is the identity for grey and RGB, BOTH with the
    cycling row filter (every one of None/Sub/Up/Average/Paeth
    exercised) and with filter 0 only — so each unfilter path is pinned
    independently of the others."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import decode_png, encode_png

    rng = np.random.default_rng(11)
    for shape in [(5, 7), (12, 9), (1, 1), (6, 1), (7, 4, 3), (33, 21, 3)]:
        mat = rng.integers(0, 256, shape, dtype=np.uint8)
        for cyc in (True, False):
            assert np.array_equal(
                decode_png(encode_png(mat, filter_cycle=cyc)), mat
            ), (shape, cyc)


def test_png_decode_real_deflate_stream():
    """decode_png must handle COMPRESSED deflate, not only the
    store-mode blocks our encoder writes: rebuild a PNG whose IDAT is
    zlib level-9 over the same scanlines and decode it."""
    import zlib

    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import (
        _png_chunk,
        decode_png,
        encode_png,
    )

    mat = (np.add.outer(np.arange(20), np.arange(17)) % 256).astype(np.uint8)
    data = encode_png(mat)
    # splice: re-deflate the raw scanline stream at level 9
    idat_len = int.from_bytes(data[33:37], "big")
    raw = zlib.decompress(data[41 : 41 + idat_len])
    recompressed = (
        data[:33]
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(recompressed), mat)


def test_png_decode_rejects_unsupported_shapes():
    import numpy as np
    import pytest

    from iceberg_tracking_spark.operators.imagecodec import decode_png, encode_png

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"P5\n1 1\n255\n\x00")
    # depth 3 is not a PNG depth (sub-byte 1/2/4 decode for real
    # since r9; 16-bit since r8): reject
    data = bytearray(encode_png(np.zeros((3, 3), np.uint8)))
    data[24] = 3  # IHDR bit-depth byte (offset 16+8)
    with pytest.raises(ValueError, match="unsupported PNG shape"):
        decode_png(bytes(data))
    # sub-byte RGB is a spec violation (table 11.1): reject
    data[24], data[25] = 4, 2
    with pytest.raises(ValueError, match="unsupported PNG shape"):
        decode_png(bytes(data))
    # 16-bit palette is a spec violation: reject, never misgather
    data[24], data[25] = 16, 3
    with pytest.raises(ValueError, match="unsupported PNG shape"):
        decode_png(bytes(data))
    # a VALID sub-byte header over an 8-bit-sized payload: the scanline
    # length check fires (rb shrinks to ceil(w·4/8)), never a misread
    data[24], data[25] = 4, 0
    with pytest.raises(ValueError, match="payload size mismatch"):
        decode_png(bytes(data))


def test_fixture_same_size_corruption_is_rewritten(tmp_path):
    """Regeneration compares a fixture's bytes, not its size: a file
    with one byte changed comes back as generated."""
    from iceberg_tracking_spark.sources.binary import ensure_png_fixture

    ensure_png_fixture(str(tmp_path))
    fp = tmp_path / "0000.png"
    good = fp.read_bytes()
    bad = bytearray(good)
    bad[40] ^= 0xFF
    fp.write_bytes(bytes(bad))
    ensure_png_fixture(str(tmp_path))
    assert fp.read_bytes() == good


def test_png_fixture_is_deterministic_and_multifilter(tmp_path):
    """Fixture files decode, match a fresh re-encode byte-for-byte
    (idempotent regeneration), and each uses all five filter types."""
    import zlib

    from iceberg_tracking_spark.sources.binary import ensure_png_fixture

    d1 = ensure_png_fixture(str(tmp_path / "a"))
    d2 = ensure_png_fixture(str(tmp_path / "b"))
    import os

    seen_ct = set()
    seen_depth = set()
    for fn in sorted(os.listdir(d1)):
        b1 = open(os.path.join(d1, fn), "rb").read()
        b2 = open(os.path.join(d2, fn), "rb").read()
        assert b1 == b2
        w = int.from_bytes(b1[16:20], "big")
        h = int.from_bytes(b1[20:24], "big")
        ct = b1[25]
        seen_ct.add(ct)
        # palette files carry a PLTE chunk between IHDR and IDAT
        idat_at = 33 if ct != 3 else 45 + int.from_bytes(b1[33:37], "big")
        assert b1[idat_at + 4 : idat_at + 8] == b"IDAT", fn
        idat_len = int.from_bytes(b1[idat_at : idat_at + 4], "big")
        raw = zlib.decompress(b1[idat_at + 8 : idat_at + 8 + idat_len])
        depth = b1[24]
        seen_depth.add(depth)
        rb = (w * depth + 7) // 8  # scanline payload bytes
        filters = {raw[r * (rb + 1)] for r in range(h)}
        assert filters == {0, 1, 2, 3, 4}, (fn, filters)
    assert seen_ct == {0, 3}  # grey files + the two palette files
    assert seen_depth == {1, 2, 4, 8}  # r9: sub-byte depths present


# ----------------------------------------------------------------- JPEG


def _jpeg_test_images():
    import numpy as np

    grad_rgb = np.stack(
        [
            np.add.outer(np.arange(24), np.arange(31)) % 256,
            (np.add.outer(np.arange(24), 2 * np.arange(31)) + 40) % 256,
            np.full((24, 31), 90),
        ],
        axis=2,
    ).astype(np.uint8)
    grad_gray = (np.add.outer(np.arange(40), np.arange(33)) * 3 % 256).astype(
        np.uint8
    )
    return grad_gray, grad_rgb


def _psnr(a, b) -> float:
    import numpy as np

    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return 10 * np.log10(255**2 / mse) if mse else float("inf")


def test_jpeg_self_roundtrip_psnr_and_quality_lever():
    """encode→decode approximates the input within quantization error,
    with PSNR monotone in the quality setting (the knob actually
    works), for gray and RGB including non-multiple-of-8 dims."""
    import numpy as np

    from iceberg_tracking_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    gray, rgb = _jpeg_test_images()
    for mat, floor in [(gray, 35.0), (rgb, 35.0)]:
        prev = 0.0
        for q in (60, 85, 95):
            dec = decode_jpeg(encode_jpeg(mat, q))
            assert dec.shape == mat.shape and dec.dtype == np.uint8
            p = _psnr(mat, dec)
            assert p > prev, f"PSNR not monotone in quality at q={q}"
            prev = p
        assert prev > floor


def test_jpeg_cross_validated_against_jvm_imageio(spark):
    """The evidence the self-roundtrip cannot give: both codec halves
    against the JVM's OWN JPEG implementation (javax.imageio via the
    session's Py4J gateway — an independent codebase, no PIL needed).

    * our encode → ImageIO decode of the SAME stream must match our
      decode within IDCT rounding (max |Δ| ≤ 3);
    * ImageIO encode (which subsamples color 4:2:0 — exercising the
      generic MCU/upsampling path) → our decode vs ImageIO's own
      decode of the same bytes, again within rounding.

    All pixel traffic crosses the gateway as PNG BYTES (lossless, and
    byte[] is the one array type Py4J moves efficiently): decoded
    BufferedImages come back via ImageIO's PNG writer into our
    decode_png, and input images reach the JVM via our encode_png into
    ImageIO's PNG reader — which makes the JDK's PNG codec a second
    independent cross-check of ours, in both directions, for free.
    (Raw raster access would also dodge the TYPE_BYTE_GRAY getRGB
    gamma trap, but costs one gateway call per pixel.)"""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import decode_png, encode_png
    from iceberg_tracking_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    jvm = spark._jvm

    def imageio_decode(data: bytes) -> np.ndarray:
        """ImageIO's JPEG decode, returned through lossless PNG."""
        bais = jvm.java.io.ByteArrayInputStream(bytearray(data))
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert img is not None, "ImageIO could not parse our JPEG"
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
        return decode_png(bytes(baos.toByteArray())).astype(np.int64)

    def imageio_encode(mat: np.ndarray) -> bytes:
        """ImageIO's JPEG encode, fed through our lossless PNG."""
        bais = jvm.java.io.ByteArrayInputStream(bytearray(encode_png(mat)))
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert img is not None, "ImageIO could not parse our PNG"
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "jpg", baos)
        return bytes(baos.toByteArray())

    gray, rgb = _jpeg_test_images()

    # direction 1: our encoder, their decoder (same compressed stream)
    enc = encode_jpeg(rgb, 90)
    assert np.abs(imageio_decode(enc) - decode_jpeg(enc)).max() <= 3
    enc_g = encode_jpeg(gray, 85)
    theirs_g = imageio_decode(enc_g)
    theirs_g = theirs_g if theirs_g.ndim == 2 else theirs_g[:, :, 0]
    assert np.abs(theirs_g - decode_jpeg(enc_g)).max() <= 3

    # direction 2: their encoder, our decoder, vs their own decode of
    # the same bytes
    jdk_g = imageio_encode(gray)
    theirs = imageio_decode(jdk_g)
    theirs = theirs if theirs.ndim == 2 else theirs[:, :, 0]
    assert np.abs(theirs - decode_jpeg(jdk_g).astype(np.int64)).max() <= 3

    # direction 2, color: JDK writes 4:2:0 (sampling 0x22/0x11/0x11) —
    # our generic MCU walk + upsampling must reproduce their decode
    jdk_rgb = imageio_encode(rgb)
    i = jdk_rgb.find(b"\xff\xc0")
    assert jdk_rgb[i + 11] == 0x22, "JDK stopped subsampling — update test"
    assert (
        np.abs(
            imageio_decode(jdk_rgb) - decode_jpeg(jdk_rgb).astype(np.int64)
        ).max()
        <= 3
    )


def test_jpeg_decode_rejects_unsupported_processes_and_garbage():
    """Progressive (SOF2) decodes since r8 and lossless (SOF3) since
    r9, so the rejection contract now covers the one genuinely
    unimplemented process — arithmetic coding (SOF9) — plus loud
    failure on a BASELINE stream mislabeled as lossless (its scan
    header carries Ss = 0, an invalid predictor)."""
    import numpy as np
    import pytest

    from iceberg_tracking_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG")
    data = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8)))
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC9  # arithmetic-coded
    with pytest.raises(ValueError, match="unsupported JPEG coding"):
        decode_jpeg(bytes(data))
    data[i + 1] = 0xC3  # lossless label on a baseline stream
    with pytest.raises(ValueError, match="invalid lossless predictor"):
        decode_jpeg(bytes(data))


def test_jpeg_flows_through_decode_media():
    """decode_media dispatches JPEG for real (no stub, no gate), and
    collapses color to the (h, w) grey contract."""
    import numpy as np

    from iceberg_tracking_spark.operators.jpegcodec import encode_jpeg
    from iceberg_tracking_spark.operators.multimodal import decode_media

    gray, rgb = _jpeg_test_images()
    out = decode_media(encode_jpeg(gray, 95), 0, 0, decode_stub=False)
    assert out.shape == gray.shape
    assert _psnr(gray, out) > 35
    out = decode_media(encode_jpeg(rgb, 95), 0, 0, decode_stub=False)
    assert out.shape == rgb.shape[:2]  # grey-collapsed


def test_jpeg_restart_markers_roundtrip_and_jvm_conformance(spark):
    """DRI/RSTn coverage (the error-resilience feature most real-world
    camera/libjpeg files carry): restart markers change the byte
    stream, not the coefficients, so decode of a restart-interval
    stream must be IDENTICAL to the no-restart decode — and the JVM's
    ImageIO must accept our DRI stream and agree, proving the
    byte-alignment/RSTn sequencing is spec-conformant, not merely
    self-consistent."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import decode_png
    from iceberg_tracking_spark.operators.jpegcodec import decode_jpeg, encode_jpeg

    gray, rgb = _jpeg_test_images()
    jvm = spark._jvm
    for mat in (gray, rgb):
        base = decode_jpeg(encode_jpeg(mat, 90))
        for ri in (1, 4):
            enc = encode_jpeg(mat, 90, restart_interval=ri)
            assert b"\xff\xdd" in enc  # DRI present
            assert np.array_equal(decode_jpeg(enc), base)
            # independent conformance: ImageIO parses the DRI stream
            bais = jvm.java.io.ByteArrayInputStream(bytearray(enc))
            img = jvm.javax.imageio.ImageIO.read(bais)
            assert img is not None, "ImageIO rejected our DRI stream"
            baos = jvm.java.io.ByteArrayOutputStream()
            assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
            theirs = decode_png(bytes(baos.toByteArray())).astype(np.int64)
            theirs = theirs if base.ndim == 3 else (
                theirs if theirs.ndim == 2 else theirs[:, :, 0]
            )
            assert np.abs(theirs - base.astype(np.int64)).max() <= 3


def test_jpeg_blobs_flow_through_binaryfile_scan(spark, tmp_path):
    """End-to-end Spark plumbing for compressed imagery: write real
    JPEG files, scan them with binaryFile, decode + pixel-stat them in
    Arrow-batched mapInPandas via the SAME extract_pixel_stats used by
    q_png_decode — the decode dispatch keys off content magic, so the
    plan is format-agnostic."""
    import numpy as np
    from pyspark.sql import functions as F

    from iceberg_tracking_spark.operators.jpegcodec import decode_jpeg, encode_jpeg
    from iceberg_tracking_spark.operators.multimodal import extract_pixel_stats
    from iceberg_tracking_spark.sources.binary import read_binary_files

    d = tmp_path / "jpegs"
    d.mkdir()
    expect = {}
    for i in range(6):
        h, w = 16 + i, 20 + 2 * i
        mat = ((np.add.outer(np.arange(h), np.arange(w)) * (i + 3)) % 256).astype(
            np.uint8
        )
        blob = encode_jpeg(mat, 90, restart_interval=(i % 3))
        (d / f"{i:04d}.jpg").write_bytes(blob)
        dec = decode_jpeg(blob)  # stats are over the DECODED pixels
        expect[i] = (int(dec.astype(np.int64).sum()), int(dec.max()))
    media = read_binary_files(spark, str(d), glob="*.jpg").select(
        F.element_at(
            F.split(F.element_at(F.split(F.col("path"), "/"), -1), "\\."), 1
        ).cast("long").alias("media_id"),
        F.col("content"),
        F.lit(0).alias("width"),  # ignored: real decode reads the header
        F.lit(0).alias("height"),
    )
    rows = extract_pixel_stats(media).collect()
    assert len(rows) == 6
    for r in rows:
        s, mx = expect[r["media_id"]]
        assert (r["px_sum"], r["max_intensity"]) == (s, mx)


def test_png_cross_validated_against_jvm_imageio(spark):
    """Direct PNG conformance against the JVM's independent codec
    (implicitly exercised as the transport in the JPEG tests; pinned
    explicitly here): ImageIO must decode our cycling-filter PNGs to
    the EXACT source pixels (PNG is lossless — zero tolerance), for
    grey and RGB, and our decoder must exactly read PNGs written by
    ImageIO's encoder."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import decode_png, encode_png

    jvm = spark._jvm
    rng = np.random.default_rng(17)
    gray = rng.integers(0, 256, (21, 34), dtype=np.uint8)
    rgb = rng.integers(0, 256, (19, 23, 3), dtype=np.uint8)
    for mat in (gray, rgb):
        # direction 1: our encoder (all five filters), their decoder
        bais = jvm.java.io.ByteArrayInputStream(bytearray(encode_png(mat)))
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert img is not None, "ImageIO rejected our PNG"
        # round-trip their BufferedImage back through their PNG writer
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
        theirs = decode_png(bytes(baos.toByteArray()))
        # lossless both hops -> exact equality (a single filter bug
        # would corrupt whole scanlines)
        assert theirs.shape == mat.shape and np.array_equal(theirs, mat)


def test_png_palette_roundtrip_and_error_contracts():
    """Color-type-3 (palette) PNG — the r7 verdict's most-common
    remaining web-corpus shape: exact index-gather roundtrip through
    all five filters, the decode_media grey-collapse, and the uniform
    ValueError contract on malformed palette/IDAT bytes."""
    import zlib

    import numpy as np
    import pytest

    from iceberg_tracking_spark.operators.imagecodec import (
        _png_chunk,
        decode_png,
        encode_png_palette,
    )
    from iceberg_tracking_spark.operators.multimodal import decode_media

    h, w = 9, 14
    yy, xx = np.mgrid[0:h, 0:w]
    idx = ((xx * 11 + yy * 5) % 256).astype(np.uint8)
    lut = np.arange(256)
    pal = np.stack(
        [(lut * 37) % 256, (255 - lut) % 256, (lut * lut) % 256], axis=1
    ).astype(np.uint8)
    for cyc in (False, True):
        data = encode_png_palette(idx, pal, filter_cycle=cyc)
        out = decode_png(data)
        assert out.shape == (h, w, 3)
        assert np.array_equal(out, pal[idx])
    # decode_media grey-collapses the gathered RGB by integer mean
    grey = decode_media(encode_png_palette(idx, pal), 0, 0, decode_stub=False)
    assert np.array_equal(
        grey, (pal[idx].astype(np.int32).sum(axis=2) // 3).astype(np.uint8)
    )
    # small palette + out-of-range index rejected at encode time
    with pytest.raises(ValueError, match="out of palette range"):
        encode_png_palette(np.full((2, 2), 9, np.uint8), pal[:4])
    # palette file stripped of its PLTE chunk -> uniform ValueError
    data = encode_png_palette(idx, pal)
    plte_len = int.from_bytes(data[33:37], "big")
    no_plte = data[:33] + data[45 + plte_len :]
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(no_plte)
    # a small palette still decodes (in-range indices, short PLTE)
    small = encode_png_palette((idx % 4).astype(np.uint8), pal[:4])
    assert np.array_equal(decode_png(small), pal[:4][idx % 4])
    # corrupt deflate stream -> ValueError, not a zlib.error leak
    # (ADVICE r7: decode_jpeg normalizes, decode_png must too)
    good = _png_chunk(b"IDAT", zlib.compress(b"\x00" * (h * (w + 1))))
    bad_idat = data.replace(
        data[45 + plte_len : 45 + plte_len + 8],
        (8).to_bytes(4, "big") + b"IDAT",
    )[: 45 + plte_len + 8] + b"\x99" * 8 + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="corrupt PNG IDAT"):
        decode_png(bad_idat)
    assert good  # silence unused warning paranoia


def test_png_palette_jvm_imageio_agrees(spark):
    """Spec conformance for the palette path: the JVM's independent
    ImageIO codec must read our color-type-3 file to the EXACT gathered
    pixels (PNG is lossless — zero tolerance)."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import (
        decode_png,
        encode_png_palette,
    )

    h, w = 10, 12
    yy, xx = np.mgrid[0:h, 0:w]
    idx = ((xx * 3 + yy * 17 + 2) % 256).astype(np.uint8)
    lut = np.arange(256)
    pal = np.stack(
        [(lut * 29 + 3) % 256, (lut * 67 + 11) % 256, (lut * 5) % 256], axis=1
    ).astype(np.uint8)
    jvm = spark._jvm
    bais = jvm.java.io.ByteArrayInputStream(
        bytearray(encode_png_palette(idx, pal))
    )
    img = jvm.javax.imageio.ImageIO.read(bais)
    assert img is not None, "ImageIO rejected our palette PNG"
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
    theirs = decode_png(bytes(baos.toByteArray()))
    if theirs.ndim == 2:  # ImageIO may re-encode a grey-only palette
        theirs = np.stack([theirs] * 3, axis=2)
    assert np.array_equal(theirs, pal[idx])


def test_png_subbyte_roundtrip_matrix():
    """1/2/4-bit PNG (r9: closes the sub-byte gap vs PIL —
    reference embedding.py:234-250 reads low-bit-depth masks,
    detection.py:1013-1030 land/water mask): exact roundtrip for grey
    (scaled to 8-bit by bit replication ×255/85/17 — the PIL
    L;1/L;2/L;4 convention) and palette (index gather), across filter
    cycling, Adam7 interlacing, and widths that do / don't fill the
    last packed byte."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import (
        decode_png,
        encode_png,
        encode_png_palette,
    )

    rng = np.random.default_rng(41)
    for d in (1, 2, 4):
        scale = 255 // ((1 << d) - 1)
        for interlaced in (False, True):
            for cyc in (False, True):
                # widths straddling byte boundaries for every depth
                for h, w in [(1, 1), (5, 8), (7, 13), (9, 17)]:
                    m = rng.integers(0, 1 << d, (h, w)).astype(np.uint8)
                    out = decode_png(
                        encode_png(
                            m, filter_cycle=cyc, interlaced=interlaced, depth=d
                        )
                    )
                    assert out.shape == (h, w)
                    assert np.array_equal(out, m * scale), (d, interlaced, cyc)
        # palette at the same depth: 2^d entries, full index range
        pal = rng.integers(0, 256, (1 << d, 3)).astype(np.uint8)
        idx = rng.integers(0, 1 << d, (11, 14)).astype(np.uint8)
        for interlaced in (False, True):
            out = decode_png(
                encode_png_palette(idx, pal, interlaced=interlaced, depth=d)
            )
            assert np.array_equal(out, pal[idx]), (d, interlaced)


def test_png_subbyte_jvm_imageio_agrees(spark):
    """Spec conformance for sub-byte depths: the JVM's independent
    ImageIO codec must read our 1/2/4-bit files to the same pixels our
    decoder produces (PNG is lossless — zero tolerance). Grey values
    cross the gateway through ImageIO's own PNG re-encode, which
    exposes the IndexColorModel's bit-replicated grey levels — the
    same ×255/85/17 scaling decode_png applies."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import (
        decode_png,
        encode_png,
        encode_png_palette,
    )

    jvm = spark._jvm

    def through_imageio(data: bytes) -> np.ndarray:
        bais = jvm.java.io.ByteArrayInputStream(bytearray(data))
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert img is not None, "ImageIO rejected our sub-byte PNG"
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
        return decode_png(bytes(baos.toByteArray()))

    rng = np.random.default_rng(43)
    for d in (1, 2, 4):
        scale = 255 // ((1 << d) - 1)
        m = rng.integers(0, 1 << d, (10, 13)).astype(np.uint8)
        ours = decode_png(encode_png(m, depth=d))
        assert np.array_equal(ours, m * scale)
        theirs = through_imageio(encode_png(m, depth=d))
        if theirs.ndim == 3:  # writer may promote grey to RGB
            assert (theirs == theirs[:, :, :1]).all()
            theirs = theirs[:, :, 0]
        assert np.array_equal(theirs, ours), f"depth {d} grey mismatch"
    # 4-bit palette: gather must survive the JVM hop exactly
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (9, 12)).astype(np.uint8)
    theirs = through_imageio(encode_png_palette(idx, pal, depth=4))
    if theirs.ndim == 2:
        theirs = np.stack([theirs] * 3, axis=2)
    assert np.array_equal(theirs, pal[idx])


def test_jpeg_fill_bytes_and_scan_validation():
    """The three r7 ADVICE hardening items on the JPEG decoder:
    spec-legal 0xFF fill padding between header segments (T.81
    B.1.1.2) must be skipped, a non-interleaved scan (ns < nf) must
    raise the uniform ValueError (it previously KeyError'd), and a
    scan referencing an undefined Huffman table must also normalize
    to ValueError."""
    import numpy as np
    import pytest

    from iceberg_tracking_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    gray, rgb = _jpeg_test_images()
    blob = encode_jpeg(rgb, 90)
    base = decode_jpeg(blob)
    # insert fill bytes between header segments: after SOI and before
    # the first SOS marker byte
    filled = blob[:2] + b"\xff" + blob[2:]
    sos = filled.index(b"\xff\xda")
    filled = filled[:sos] + b"\xff\xff" + filled[sos:]
    assert np.array_equal(decode_jpeg(filled), base)
    # non-interleaved scan header: rewrite the 3-component SOS
    # (len 12: 2+1+6+3) as a single-component one (len 8: 2+1+2+3)
    sos = blob.index(b"\xff\xda")
    cid1 = blob[sos + 5]
    tbl1 = blob[sos + 6]
    mutated = (
        blob[:sos]
        + b"\xff\xda" + (8).to_bytes(2, "big")
        + bytes([1, cid1, tbl1, 0, 63, 0])
        + blob[sos + 14 :]
    )
    with pytest.raises(ValueError, match="non-interleaved"):
        decode_jpeg(mutated)
    # undefined Huffman table selector -> ValueError, not KeyError
    gblob = bytearray(encode_jpeg(gray, 90))
    gsos = gblob.index(b"\xff\xda")
    gblob[gsos + 6] = 0xEE  # dc table 14 / ac table 14: never defined
    with pytest.raises(ValueError, match="undefined"):
        decode_jpeg(bytes(gblob))
    # a scan arriving before any frame header gets the accurate
    # diagnosis, not a bogus non-interleaved message
    headless = b"\xff\xd8" + blob[sos:]
    with pytest.raises(ValueError, match="no frame header"):
        decode_jpeg(headless)


def test_jpeg_single_component_ignores_sampling_factors():
    """T.81 A.2.2: a single-component scan is non-interleaved — one
    data unit per MCU regardless of declared hs/vs. Declare 2x2
    factors on a grey frame and the decode must equal the 1x1 decode
    (previously the interleaved MCU walk silently misdecoded)."""
    import numpy as np

    from iceberg_tracking_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    gray, _ = _jpeg_test_images()
    blob = bytearray(encode_jpeg(gray, 90))
    base = decode_jpeg(bytes(blob))
    sof = bytes(blob).index(b"\xff\xc0")
    # SOF0 layout: marker(2) len(2) prec(1) h(2) w(2) nc(1) cid(1) hv(1)
    assert blob[sof + 9] == 1, "expected a 1-component frame"
    assert blob[sof + 11] == 0x11
    blob[sof + 11] = 0x22  # declare 2x2 sampling on the only component
    out = decode_jpeg(bytes(blob))
    assert np.array_equal(out, base)


def test_png_adam7_roundtrip_all_shapes():
    """Adam7 interlaced PNG (interlace=1): decode(encode(x,
    interlaced=True)) == x for grey / RGB / palette, across sizes that
    exercise every pass-geometry edge — 1x1 (six empty passes), sizes
    < 8 (partial passes), odd/even mixes, and sizes where some passes
    have zero width or height."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import (
        decode_png,
        encode_png,
        encode_png_palette,
    )

    lut = np.arange(256)
    pal = np.stack(
        [(lut * 37) % 256, (lut * 91 + 17) % 256, (lut * 53 + 101) % 256],
        axis=1,
    ).astype(np.uint8)
    for h, w in [(1, 1), (1, 9), (7, 1), (3, 5), (8, 8), (11, 13), (16, 9)]:
        yy, xx = np.mgrid[0:h, 0:w]
        grey = ((xx * 7 + yy * 13 + 5) % 256).astype(np.uint8)
        rgb = np.stack(
            [grey, (grey * 3 + 1) % 256, (255 - grey)], axis=2
        ).astype(np.uint8)
        for cyc in (False, True):
            assert np.array_equal(
                decode_png(encode_png(grey, filter_cycle=cyc, interlaced=True)),
                grey,
            ), (h, w, cyc, "grey")
            assert np.array_equal(
                decode_png(encode_png(rgb, filter_cycle=cyc, interlaced=True)),
                rgb,
            ), (h, w, cyc, "rgb")
        assert np.array_equal(
            decode_png(encode_png_palette(grey, pal, interlaced=True)),
            pal[grey],
        ), (h, w, "palette")


def test_png_adam7_jvm_imageio_agrees(spark):
    """Spec conformance for the interlaced writer/reader: the JVM's
    independent ImageIO codec must read our Adam7 files to the EXACT
    source pixels (grey and RGB; PNG is lossless — zero tolerance)."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import (
        decode_png,
        encode_png,
    )

    jvm = spark._jvm
    yy, xx = np.mgrid[0:13, 0:10]
    grey = ((xx * 11 + yy * 3 + 1) % 256).astype(np.uint8)
    rgb = np.stack([grey, (grey + 85) % 256, (grey + 170) % 256], axis=2).astype(
        np.uint8
    )
    for mat in (grey, rgb):
        bais = jvm.java.io.ByteArrayInputStream(
            bytearray(encode_png(mat, interlaced=True))
        )
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert img is not None, "ImageIO rejected our Adam7 PNG"
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
        theirs = decode_png(bytes(baos.toByteArray()))
        if mat.ndim == 2 and theirs.ndim == 3:
            theirs = theirs[:, :, 0]
        assert np.array_equal(theirs, mat)


def _jvm_progressive_jpeg(jvm, png_bytes: bytes) -> bytes:
    """Encode an image as PROGRESSIVE JPEG via the JVM's independent
    codec (ImageWriteParam MODE_DEFAULT) — the conformance source for
    our SOF2 decoder (our encoder emits baseline only)."""
    bais = jvm.java.io.ByteArrayInputStream(bytearray(png_bytes))
    img = jvm.javax.imageio.ImageIO.read(bais)
    writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName(
        "jpeg"
    ).next()
    param = writer.getDefaultWriteParam()
    param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    baos = jvm.java.io.ByteArrayOutputStream()
    ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), param)
    ios.flush()
    return bytes(baos.toByteArray())


def test_jpeg_progressive_decode_jvm_conformance(spark):
    """Progressive (SOF2) decode — the r7 verdict's last deferred codec
    gap: multi-scan spectral selection + successive approximation with
    EOB runs and AC refinement. Our encoder is baseline-only, so the
    conformance source is the JVM's OWN progressive writer; we then
    compare our decode of those bytes against ImageIO's decode of the
    SAME bytes (two independent SOF2 implementations reading one
    stream — per-pixel tolerance covers IDCT/upsampling rounding
    differences only), and against the lossless source within the
    usual lossy budget."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import (
        decode_png,
        encode_png,
    )
    from iceberg_tracking_spark.operators.jpegcodec import decode_jpeg

    jvm = spark._jvm
    gray, rgb = _jpeg_test_images()
    for mat in (gray, rgb):
        blob = _jvm_progressive_jpeg(jvm, encode_png(mat))
        assert b"\xff\xc2" in blob and blob.count(b"\xff\xda") >= 3
        ours = decode_jpeg(blob)
        assert ours.shape[:2] == mat.shape[:2]
        # ImageIO's decode of the same progressive bytes, via PNG
        bais = jvm.java.io.ByteArrayInputStream(bytearray(blob))
        img = jvm.javax.imageio.ImageIO.read(bais)
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
        theirs = decode_png(bytes(baos.toByteArray()))
        if ours.ndim == 2 and theirs.ndim == 3:
            theirs = theirs[:, :, 0]
        d_dec = np.abs(
            ours.astype(np.int64) - theirs.astype(np.int64)
        ).max()
        assert d_dec <= 3, f"decoder disagreement {d_dec}"
        # and the roundtrip stays within a lossy-compression budget
        assert _psnr(mat, ours) > 30


def _encode_progressive_2scan(
    mat, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Test-side progressive encoder for GREY images: the simplest
    spec-legal SOF2 stream — scan 1 = DC band (Ss=0, Se=0, Al=0),
    scan 2 = full AC band (Ss=1, Se=63, Al=0) — whose quantized
    coefficients are EXACTLY the baseline encoder's, so the
    progressive decode must reproduce the baseline decode. With
    `restart_interval` > 0 both scans emit RSTn every that-many blocks
    (byte-aligned; DC predictor / EOB-run state resets), which is the
    coverage the JVM writer cannot provide (it never emits DRI)."""
    import numpy as np

    from iceberg_tracking_spark.operators.jpegcodec import (
        _AC_LUMA,
        _BitWriter,
        _csize,
        _DC_LUMA,
        _DCT_M,
        _dht_segment,
        _dqt_segment,
        _build_encoder,
        _quality_tables,
        ZIGZAG,
    )

    m = np.ascontiguousarray(mat, dtype=np.uint8)
    assert m.ndim == 2
    h, w = m.shape
    ql, _ = _quality_tables(quality)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    plane = np.pad(
        m.astype(np.float64) - 128.0, ((0, ph - h), (0, pw - w)), mode="edge"
    )
    blocks = []
    for by in range(ph // 8):
        for bx in range(pw // 8):
            block = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = _DCT_M @ block @ _DCT_M.T
            blocks.append(
                np.rint(coef / ql).astype(np.int64).reshape(64)[ZIGZAG]
            )
    dc_enc = _build_encoder(*_DC_LUMA)
    ac_enc = _build_encoder(*_AC_LUMA)

    def restart(wtr, i, rst):
        if restart_interval and i and i % restart_interval == 0:
            wtr.flush()
            wtr.buf += bytes([0xFF, 0xD0 + (rst & 7)])
            return (rst + 1) & 7, True
        return rst, False

    # scan 1: DC band
    w1, pred, rst = _BitWriter(), 0, 0
    for i, zz in enumerate(blocks):
        rst, did = restart(w1, i, rst)
        if did:
            pred = 0
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s = _csize(diff)
        code, ln = dc_enc[s]
        w1.write(code, ln)
        if s:
            w1.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    w1.flush()
    # scan 2: AC band 1..63 (EOB = EOB-run of one block)
    w2, rst = _BitWriter(), 0
    for i, zz in enumerate(blocks):
        rst, _ = restart(w2, i, rst)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last = nz[-1] + 1 if nz.size else 0
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_enc[0xF0]
                w2.write(code, ln)
                run -= 16
            s = _csize(v)
            code, ln = ac_enc[(run << 4) | s]
            w2.write(code, ln)
            w2.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 63:
            code, ln = ac_enc[0x00]
            w2.write(code, ln)
    w2.flush()

    out = bytearray(b"\xff\xd8")
    out += _dqt_segment(0, ql)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
    sof += bytes([1, 1, 0x11, 0])
    out += b"\xff\xc2" + (len(sof) + 2).to_bytes(2, "big") + sof
    out += _dht_segment(0, 0, _DC_LUMA) + _dht_segment(1, 0, _AC_LUMA)
    if restart_interval:
        out += b"\xff\xdd\x00\x04" + restart_interval.to_bytes(2, "big")
    out += b"\xff\xda\x00\x08" + bytes([1, 1, 0x00, 0, 0, 0x00]) + w1.buf
    out += b"\xff\xda\x00\x08" + bytes([1, 1, 0x00, 1, 63, 0x00]) + w2.buf
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_restart_markers(spark):
    """Progressive + DRI>0 for real: both scans of a hand-built
    two-scan SOF2 stream carry RSTn every 3 blocks, so the decoder's
    progressive restart path (RSTn consumption + byte realignment +
    DC-predictor and EOB-run reset) is actually driven. The quantized
    coefficients equal the baseline encoder's, so the progressive
    decode must match the baseline decode of the same image — and the
    JVM's independent ImageIO reader must accept the DRI-bearing
    stream and agree, proving the restart placement is spec-conformant
    rather than merely self-consistent."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import decode_png
    from iceberg_tracking_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg,
    )

    gray, _ = _jpeg_test_images()
    base = decode_jpeg(encode_jpeg(gray, 90))
    for ri in (0, 3):
        prog = _encode_progressive_2scan(gray, 90, restart_interval=ri)
        assert b"\xff\xc2" in prog
        assert (b"\xff\xd0" in prog) == (ri > 0)
        got = decode_jpeg(prog)
        # same quantized coefficients; <=1 gray level of IDCT-path
        # float rounding slack (einsum vs chained matmul)
        assert np.abs(
            got.astype(np.int64) - base.astype(np.int64)
        ).max() <= 1
        # independent conformance: ImageIO parses the DRI stream
        jvm = spark._jvm
        bais = jvm.java.io.ByteArrayInputStream(bytearray(prog))
        img = jvm.javax.imageio.ImageIO.read(bais)
        assert img is not None, f"ImageIO rejected the stream (ri={ri})"
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
        theirs = decode_png(bytes(baos.toByteArray()))
        if theirs.ndim == 3:
            theirs = theirs[:, :, 0]
        assert np.abs(
            theirs.astype(np.int64) - got.astype(np.int64)
        ).max() <= 3


def _encode_png16(u16: np.ndarray, interlaced: bool = False) -> bytes:
    """Test-side 16-bit PNG writer: big-endian u16 samples, grey (h,w)
    or RGB (h,w,3), filters cycling over BYTE rows at the doubled
    filter lag (spec 9.2) via the module's own scanline machinery."""
    from iceberg_tracking_spark.operators.imagecodec import (
        PNG_SIG,
        _png_chunk,
        _scanline_stream,
        _zlib_stored,
    )

    assert u16.dtype == np.uint16
    nch = 1 if u16.ndim == 2 else u16.shape[2]
    h, w = u16.shape[:2]
    be = u16.reshape(h, w, nch).byteswap() if u16.dtype.byteorder in ("<", "=") else u16
    rows = (
        np.ascontiguousarray(be).view(np.uint8).reshape(h, w, 2 * nch)
    )
    raw = _scanline_stream(rows, filter_cycle=True, interlaced=interlaced)
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([16, 0 if nch == 1 else 2, 0, 0, 1 if interlaced else 0])
    )
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib_stored(raw))
        + _png_chunk(b"IEND", b"")
    )


def test_png_16bit_decode_high_byte_and_jvm_conformance(spark):
    """16-bit PNG (depth=16): filters run on bytes at the doubled lag;
    the uint8 output keeps each sample's high byte (PIL's I;16->L
    convention). Pinned three ways: against the known high bytes of a
    constructed u16 image (grey + RGB, sequential + Adam7), against a
    16-bit file written by the JVM's OWN encoder (TYPE_USHORT_GRAY ->
    ImageIO png is 16-bit), and ImageIO must read OUR 16-bit file back
    to the exact u16 values."""
    import numpy as np

    from iceberg_tracking_spark.operators.imagecodec import decode_png

    yy, xx = np.mgrid[0:9, 0:11]
    u16 = ((xx * 4099 + yy * 257 * 31 + 5) % 65536).astype(np.uint16)
    rgb16 = np.stack(
        [u16, (u16 * 3 + 7) % 65536, (65535 - u16)], axis=2
    ).astype(np.uint16)
    for il in (False, True):
        assert np.array_equal(
            decode_png(_encode_png16(u16, interlaced=il)), (u16 >> 8)
        ), il
        assert np.array_equal(
            decode_png(_encode_png16(rgb16, interlaced=il)),
            (rgb16 >> 8).astype(np.uint8),
        ), il
    # cross-validation with the JVM's independent 16-bit codec
    jvm = spark._jvm
    h, w = u16.shape
    img = jvm.java.awt.image.BufferedImage(
        w, h, jvm.java.awt.image.BufferedImage.TYPE_USHORT_GRAY
    )
    raster = img.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, int(u16[y, x]))
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(img, "png", baos)
    theirs_bytes = bytes(baos.toByteArray())
    assert theirs_bytes[24] == 16  # ImageIO wrote a real 16-bit file
    assert np.array_equal(decode_png(theirs_bytes), (u16 >> 8))
    # and ImageIO reads OUR 16-bit file to the exact u16 values
    bais = jvm.java.io.ByteArrayInputStream(bytearray(_encode_png16(u16)))
    back = jvm.javax.imageio.ImageIO.read(bais)
    assert back is not None
    for y, x in [(0, 0), (3, 7), (8, 10)]:
        assert back.getRaster().getSample(x, y, 0) == int(u16[y, x])


def test_extract_video_motion_exact_planted_diffs(spark):
    """Motion energy on synthetic frames equals the hand-computed exact
    integer sums, including the uint8-widening edge (a 255 → 0 step
    must count as 255, not wrap)."""
    import numpy as np

    from iceberg_tracking_spark.operators.audiocodec import encode_y4m
    from iceberg_tracking_spark.operators.multimodal import (
        extract_video_motion,
    )

    h, w = 4, 6
    f0 = np.zeros((h, w), dtype=np.uint8)
    f1 = np.full((h, w), 10, dtype=np.uint8)        # |Δ| = 10 per px
    f2 = np.full((h, w), 255, dtype=np.uint8)       # |Δ| = 245 per px
    f3 = np.zeros((h, w), dtype=np.uint8)           # |Δ| = 255 per px (wrap trap)
    clip = encode_y4m(np.stack([f0, f1, f2, f3]))
    media = spark.createDataFrame(
        [(7, bytearray(clip))], "media_id long, content binary"
    )
    rows = {
        r["frame_idx"]: r for r in extract_video_motion(media).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1]["motion_sum"] == 10 * h * w
    assert rows[2]["motion_sum"] == 245 * h * w
    assert rows[3]["motion_sum"] == 255 * h * w
    assert rows[1]["width"] == w and rows[1]["height"] == h


# ---------------------------------------------------- lossless JPEG (SOF3)


def test_jpeg_lossless_roundtrip_all_predictors():
    """decode(encode_lossless(m)) == m EXACTLY for every predictor 1-7,
    grey + RGB + 16-bit — the defining property of the process."""
    import numpy as np

    from iceberg_tracking_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(42)
    cases = [
        (rng.integers(0, 256, size=(13, 17)).astype(np.uint8)),
        (rng.integers(0, 256, size=(9, 11, 3)).astype(np.uint8)),
        (rng.integers(0, 65536, size=(8, 6)).astype(np.uint16)),
    ]
    for m in cases:
        for pred in range(1, 8):
            got = decode_jpeg(encode_jpeg_lossless(m, predictor=pred))
            assert got.dtype == m.dtype and got.shape == m.shape
            assert np.array_equal(got, m), (m.shape, pred)


def test_jpeg_lossless_restart_and_point_transform():
    """Mid-row restart intervals reset prediction consistently on both
    sides; point transform Pt codes sample >> Pt and reconstructs the
    <<-Pt value (the spec's controlled-loss knob)."""
    import numpy as np

    from iceberg_tracking_spark.operators.jpegcodec import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(3)
    m = rng.integers(0, 256, size=(10, 7)).astype(np.uint8)
    got = decode_jpeg(encode_jpeg_lossless(m, predictor=4, restart_interval=11))
    assert np.array_equal(got, m)
    got = decode_jpeg(encode_jpeg_lossless(m, predictor=1, point_transform=1))
    assert np.array_equal(got, (m >> 1) << 1)


def test_jpeg_lossless_hand_built_bitstream():
    """Decoder-only direction: a 2×2 SOF3 file assembled BY HAND, bit
    by bit, so the wire format (marker layout, canonical code
    assignment, SSSS+EXTEND differences, default prediction 2^(P−1))
    is pinned independently of our own encoder.

    Pixels [[100, 101], [102, 104]], predictor 1, Pt 0:
      (0,0): pred 128, diff −28 → SSSS 5 code '11110', bits '00011'
      (0,1): Ra 100,  diff  +1 → SSSS 1 code '01',    bit  '1'
      (1,0): Rb 100,  diff  +2 → SSSS 2 code '10',    bits '10'
      (1,1): Ra 102,  diff  +2 → SSSS 2 code '10',    bits '10'
    → 21 bits, padded with 1s: 0xF0 0xDD 0x57.
    """
    import numpy as np

    from iceberg_tracking_spark.operators.jpegcodec import decode_jpeg

    dht = bytes([0x00]) + bytes(
        [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
    ) + bytes(range(17))
    data = (
        b"\xff\xd8"
        + b"\xff\xc4" + (len(dht) + 2).to_bytes(2, "big") + dht
        + b"\xff\xc3\x00\x0b" + bytes([8, 0, 2, 0, 2, 1, 1, 0x11, 0])
        + b"\xff\xda\x00\x08" + bytes([1, 1, 0x00, 1, 0, 0])
        + bytes([0xF0, 0xDD, 0x57])
        + b"\xff\xd9"
    )
    got = decode_jpeg(data)
    assert np.array_equal(
        got, np.array([[100, 101], [102, 104]], dtype=np.uint8)
    )


def test_jpeg_lossless_rejects_bad_shapes():
    import numpy as np
    import pytest

    from iceberg_tracking_spark.operators.jpegcodec import (
        encode_jpeg_lossless,
    )

    m = np.zeros((4, 4), np.uint8)
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(m, predictor=0)
    with pytest.raises(ValueError, match="point transform"):
        encode_jpeg_lossless(m, point_transform=8)
