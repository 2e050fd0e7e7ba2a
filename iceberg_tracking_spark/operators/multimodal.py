"""Multimodal column operators (LLM-pipeline surface; SURVEY §2.8 M1-M4).

Media (image/audio/video) is carried as an opaque `binary` column with
typed metadata (schemas.MEDIA_SCHEMA). Decode / feature-extract /
resize / frame-sample cross into Python through one row-wise boundary,
`map_rows`: an Arrow-batched `mapInPandas` whose per-row function
returns output tuples in schema order, so the schema string is the one
place that names an operator's output columns. The scans
(`media_from_*`) stay pure Catalyst: header fields are read from the
hex encoding (`_hex_byte`) and the media id from the file name
(`path_media_id`).

Decode is REAL for PGM, PNG and baseline JPEG blobs — the pure-numpy
codecs in operators/imagecodec.py (PGM; PNG via stdlib-zlib inflate +
scanline unfiltering; bilinear resize, crop/pad) and
operators/jpegcodec.py (T.81 Huffman + IDCT, generic chroma
subsampling, cross-validated against the JVM's javax.imageio); the
fixtures (sources/binary.ensure_image_fixture / ensure_png_fixture)
ship genuine files, so the whole decode → transform → feature path
runs on actual pixels. GIF (operators/gifcodec.py) and lossless WebP
(operators/webpcodec.py, VP8L) decode natively too. Formats beyond
those (lossy-VP8 WebP, AVIF…) fall back to a deterministic stub when
`decode_stub=True` (default) and raise NotImplementedError — at the
exact point PIL/cv2 would plug in — when `decode_stub=False`.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def map_rows(
    df: DataFrame, schema: str, row_fn: Callable[[tuple], Iterable[tuple]]
) -> DataFrame:
    """Row-wise Python map over Arrow batches: `row_fn(r)` returns the
    output rows for one input row `r` (a pandas `itertuples` record),
    each a tuple in `schema` order — zero, one or many per input row.

    Output frames carry no column labels: pyspark assigns unlabelled
    columns to `schema` by position, and takes an empty column-less
    frame for a batch that yields no rows."""

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [out for r in pdf.itertuples(index=False) for out in row_fn(r)]
            )

    return df.mapInPandas(_map, schema=schema)


def path_media_id() -> Column:
    """Media id from the numeric stem of the file name in `path`
    ('.../0007.png' -> 7; NULL when the stem is not a number)."""
    return F.element_at(
        F.split(F.element_at(F.split(F.col("path"), "/"), -1), "\\."), 1
    ).cast("long")


def _hex_byte(hx: Column, off: int) -> Column:
    """Byte at 0-based offset `off` of a lowercase-hex string, as int."""
    return F.conv(F.substring(hx, 2 * off + 1, 2), 16, 10).cast("int")


def synthesize_media_table(
    spark: SparkSession, sf_dir: str, modality: str = "image"
) -> DataFrame:
    """Deterministic media fixture: documents.text bytes as fake blobs.

    Stands in for `spark.read.format("binaryFile")` (reference image
    scan S8) in this container; the downstream operators only see
    (media_id, modality, content, mime_type, width, height).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(modality).alias("modality"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("application/x-fake").alias("mime_type"),
        (F.pmod(F.col("doc_id"), F.lit(64)) + 32).cast("int").alias("width"),
        (F.pmod(F.col("doc_id"), F.lit(48)) + 24).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )


def media_from_binary_files(
    spark: SparkSession, path: str | None = None, modality: str = "image"
) -> DataFrame:
    """S8 → media schema: a REAL `binaryFile` directory scan shaped into
    the engine's media columns. Width/height are derived metadata here
    (a real pipeline would read them from the container header); the
    blob bytes are the genuine file contents."""
    from ..sources.binary import ensure_binary_fixture, read_binary_files

    raw = read_binary_files(spark, path or ensure_binary_fixture())
    # Numeric basename → id; anything else falls back to a stable hash
    # of the path (a NULL id would poison the derived width/height and
    # crash the downstream mapInPandas decode on int(None)).
    media_id = F.coalesce(path_media_id(), F.abs(F.xxhash64(F.col("path"))))
    return raw.select(
        media_id.alias("media_id"),
        F.lit(modality).alias("modality"),
        F.col("content").alias("content"),
        F.lit("application/octet-stream").alias("mime_type"),
        (F.pmod(media_id, F.lit(64)) + 32).cast("int").alias("width"),
        (F.pmod(media_id, F.lit(48)) + 24).cast("int").alias("height"),
        (F.col("length") * 10).cast("long").alias("duration_ms"),
    )


def _fake_decode(content: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for image decode: bytes → (h, w) uint8.

    A real implementation would be `cv2.imdecode` / `PIL.Image.open`
    (reference embedding.py:234-250); this keeps shape/dtype semantics
    so downstream plumbing is exercised for real. The fake pixels are
    the 16 md5 digest bytes of the content's lowercase-hex encoding,
    tiled row-major — md5 arithmetic (not RNG) so the DuckDB oracle
    re-derives every downstream feature exactly (q_media_features
    contract; same discipline as the stub detector's
    _batch_infer_oracle). Hex-of-content rather than raw bytes because
    DuckDB's md5() only takes VARCHAR — the same portability trick as
    q_image_decode's content_md5.
    """
    d = np.frombuffer(
        hashlib.md5(content.hex().encode()).digest(), dtype=np.uint8
    )
    n = height * width
    return np.tile(d, n // 16 + 1)[:n].reshape(height, width)


def decode_media(
    content: bytes, width: int, height: int, decode_stub: bool = True
) -> np.ndarray:
    """Decode one blob to a (h, w) uint8 matrix.

    Binary PGM, PNG (stdlib-zlib inflate + scanline unfiltering;
    grey/RGB/palette at 1/2/4/8/16-bit, sequential + Adam7
    interlaced), JPEG (pure-numpy Huffman + IDCT, baseline AND
    progressive, generic chroma subsampling), GIF (general LZW,
    87a/89a, first composited frame) and lossless WebP (VP8L: prefix
    codes, color cache, LZ77, all four transforms) decode FOR REAL
    via the numpy codecs — the formats a training corpus actually
    ships. Other formats (lossy-VP8 WebP, AVIF…) use the
    deterministic stub (decode_stub=True) or raise at the plug-in
    point for PIL/cv2 (decode_stub=False). Color images are collapsed
    to grey by integer channel mean so every consumer keeps its
    (h, w) contract."""
    from .gifcodec import decode_gif, is_gif
    from .imagecodec import decode_pgm, decode_png, is_pgm, is_png
    from .jpegcodec import decode_jpeg, is_jpeg
    from .webpcodec import decode_webp, is_webp, is_webp_lossless

    mat = None
    if is_pgm(content):
        return decode_pgm(content)
    if is_png(content):
        mat = decode_png(content)
    elif is_jpeg(content):
        mat = decode_jpeg(content)
    elif is_gif(content):
        mat = decode_gif(content, max_frames=1)[0][0]
    elif is_webp(content) and is_webp_lossless(content):
        mat = decode_webp(content)[:, :, :3]  # alpha excluded from grey
    if mat is not None:
        if mat.ndim == 3:
            mat = (mat.astype(np.int32).sum(axis=2) // 3).astype(np.uint8)
        return mat
    if not decode_stub:
        raise NotImplementedError(
            "format beyond PGM/PNG/JPEG/GIF/lossless-WebP (lossy-VP8 "
            "WebP, AVIF, …) requires PIL/cv2, not in this container; "
            "the common training-data formats decode natively "
            "(operators/imagecodec.py, jpegcodec.py, gifcodec.py, "
            "webpcodec.py) and every format CATALOGS header-level "
            "(dims/alpha/animation/decodability) via "
            "operators/mediacatalog.py:parse_media_header"
        )
    return _fake_decode(content, width, height)


def media_from_image_files(spark: SparkSession, path: str | None = None) -> DataFrame:
    """REAL image scan: binaryFile over the PGM fixture with width and
    height parsed from the ACTUAL image headers — in pure Catalyst
    (`decode` + `regexp_extract` on the ASCII prefix), no Python. The
    downstream decode then re-reads the same dims from the same bytes
    on the executors."""
    from ..sources.binary import ensure_image_fixture, read_binary_files

    raw = read_binary_files(spark, path or ensure_image_fixture(), glob="*.pgm")
    # The 20-byte prefix covers the header but bleeds into binary pixel
    # data, which a strict UTF-8 decode rejects (Spark 4 decode() is
    # strict) — so parse the ASCII header out of the HEX encoding
    # instead: '50350a' = "P5\n", '3X' = digit X, '20' = space.
    hx = F.lower(F.hex(F.substring(F.col("content"), 1, 20)))
    width_hex = F.regexp_extract(hx, r"^50350a((?:3[0-9])+)20", 1)
    height_hex = F.regexp_extract(hx, r"^50350a(?:3[0-9])+20((?:3[0-9])+)0a", 1)
    return raw.select(
        path_media_id().alias("media_id"),
        F.lit("image").alias("modality"),
        F.col("content"),
        F.lit("image/x-portable-graymap").alias("mime_type"),
        F.regexp_replace(width_hex, "3(.)", "$1").cast("int").alias("width"),
        F.regexp_replace(height_hex, "3(.)", "$1").cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def media_from_png_files(spark: SparkSession, path: str | None = None) -> DataFrame:
    """REAL compressed-image scan: binaryFile over the PNG fixture with
    width/height parsed from the ACTUAL IHDR chunk in pure Catalyst —
    the PNG header is fixed-layout (big-endian u32 at byte offsets
    16/20), so `conv(hex-slice, 16, 10)` reads it with no Python."""
    from ..sources.binary import ensure_png_fixture, read_binary_files

    raw = read_binary_files(spark, path or ensure_png_fixture(), glob="*.png")
    hx = F.lower(F.hex(F.substring(F.col("content"), 1, 24)))
    return raw.select(
        path_media_id().alias("media_id"),
        F.lit("image").alias("modality"),
        F.col("content"),
        F.lit("image/png").alias("mime_type"),
        F.conv(F.substring(hx, 33, 8), 16, 10).cast("int").alias("width"),
        F.conv(F.substring(hx, 41, 8), 16, 10).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def media_from_gif_files(spark: SparkSession, path: str | None = None) -> DataFrame:
    """REAL GIF scan: binaryFile over the GIF fixture with width /
    height parsed from the ACTUAL logical-screen descriptor in pure
    Catalyst — u16 little-endian at byte offsets 6/8, read from the
    hex encoding (the reference's loader sniffs and reads GIFs,
    helpers.py:665-685 / embedding.py:234-250)."""
    from ..sources.binary import ensure_gif_fixture, read_binary_files

    raw = read_binary_files(spark, path or ensure_gif_fixture(), glob="*.gif")
    hx = F.lower(F.hex(F.substring(F.col("content"), 1, 10)))
    return raw.select(
        path_media_id().alias("media_id"),
        F.lit("image").alias("modality"),
        F.col("content"),
        F.lit("image/gif").alias("mime_type"),
        (_hex_byte(hx, 6) + _hex_byte(hx, 7) * 256).alias("width"),
        (_hex_byte(hx, 8) + _hex_byte(hx, 9) * 256).alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def extract_media_features(
    media: DataFrame, decode_stub: bool = True
) -> DataFrame:
    """Decode + feature-extract per blob via mapInPandas.

    Output: (media_id, n_bytes, mean_intensity, std_intensity,
    phash) — mean/std over the decoded matrix, phash = md5 of the
    downsampled above-mean bit pattern as an ASCII '0'/'1' string (a
    perceptual-hash stand-in; ASCII rather than raw bytes so the SQL
    oracle can rebuild the exact digest input with string_agg).
    """
    def _features(r):
        mat = decode_media(
            bytes(r.content), int(r.width), int(r.height), decode_stub
        )
        small = mat[::8, ::8]
        bits = (small > small.mean()).astype(np.uint8).ravel()
        phash = hashlib.md5("".join(map(str, bits)).encode()).hexdigest()
        # mean/std via EXACT integer moments then the closed form
        # sqrt(SS/N - (S/N)^2) — the same float-op sequence the SQL
        # oracle uses (sum-of-ints * 1.0 / N). numpy's two-pass
        # mat.std() differs by up to ~1e-13, enough to flip round(.,6)
        # on a grid boundary.
        m64 = mat.astype(np.int64)
        n_px = int(m64.size)
        s = int(m64.sum())
        ss = int((m64 * m64).sum())
        mean = s / n_px
        std = math.sqrt(ss / n_px - mean * mean)
        return [(r.media_id, len(bytes(r.content)), mean, std, phash)]

    return map_rows(
        media.select("media_id", "content", "width", "height"),
        "media_id long, n_bytes long, mean_intensity double, "
        "std_intensity double, phash string",
        _features,
    )


def media_from_webp_files(spark: SparkSession, path: str | None = None) -> DataFrame:
    """REAL lossless-WebP scan: binaryFile over the WebP fixture with
    width/height parsed from the ACTUAL VP8L header in pure Catalyst —
    the 14-bit dimension fields start at payload bit 8 (file byte 21,
    payload = RIFF 12 + chunk header 8 + signature byte), read
    LSB-first: w−1 = b21 | (b22 & 0x3f)<<8, h−1 = b22>>6 | b23<<2 |
    (b24 & 0xf)<<10 (the reference's loader sniffs and reads WebP,
    helpers.py:665-685 / embedding.py:234-250).

    The fixed byte-21 offset is only valid when the VP8L chunk is the
    FIRST chunk at offset 12, so the scan GUARDS on bytes 12-16 ==
    'VP8L' and filters everything else out (r10 ADVICE #2: a
    VP8X-wrapped lossless file would otherwise yield garbage dims
    while its pixels still decode). VP8X/VP8-lossy blobs are the
    media_catalog operator's job (parse_media_header walks the RIFF
    chunk list generically), not this plain-profile scan's.

    WHY TWO PARSERS (r11 verdict task #4, the deliberate decision):
    this scan and parse_media_header are kept SEPARATE on purpose.
    This one is a zero-Python Catalyst expression over 25 header
    bytes — it rides whole-stage codegen, costs no Arrow transfer,
    and its guard restricts it to exactly the one fixed layout
    (plain VP8L-first) where a fixed-offset read is provably correct;
    Catalyst cannot express a variable-length RIFF chunk walk without
    a UDF, so 'unifying' would mean routing this hot scan through
    mapInPandas and paying Python+Arrow per blob for fields the
    expression already computes JVM-side. parse_media_header is the
    general walker for everything OUTSIDE that profile. The two are
    kept honest against each other by a parity test
    (tests/test_mediacatalog.py::test_webp_scan_parity_with_catalog):
    on every blob the scan accepts, its dims must equal the general
    parser's."""
    from ..sources.binary import ensure_webp_fixture, read_binary_files

    raw = read_binary_files(spark, path or ensure_webp_fixture(), glob="*.webp")
    hx = F.lower(F.hex(F.substring(F.col("content"), 1, 25)))
    # bytes 12-15 == 'VP8L' (hex 5650384c): hex chars 25..32
    raw = raw.where(F.substring(hx, 25, 8) == F.lit("5650384c"))
    return raw.select(
        path_media_id().alias("media_id"),
        F.lit("image").alias("modality"),
        F.col("content"),
        F.lit("image/webp").alias("mime_type"),
        (
            F.lit(1) + _hex_byte(hx, 21) + (_hex_byte(hx, 22) % 64) * 256
        ).alias("width"),
        (
            F.lit(1) + F.floor(_hex_byte(hx, 22) / 64).cast("int")
            + _hex_byte(hx, 23) * 4 + (_hex_byte(hx, 24) % 16) * 1024
        ).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def extract_pixel_stats(media: DataFrame) -> DataFrame:
    """(media_id, px_sum, max_intensity, mean_intensity) via REAL
    decode (PGM/PNG) in Arrow-batched mapInPandas — the stats the
    q_png_decode oracle re-derives pixel-by-pixel from the raw bytes.
    px_sum is the exact integer moment; mean is its ONE division (the
    house exactness style), rounded at the query layer."""

    def _stats(r):
        mat = decode_media(
            bytes(r.content), int(r.width), int(r.height), decode_stub=False
        )
        m64 = mat.astype(np.int64)
        s = int(m64.sum())
        return [(r.media_id, s, int(m64.max()), s / m64.size)]

    return map_rows(
        media.select("media_id", "content", "width", "height"),
        "media_id long, px_sum long, max_intensity long, mean_intensity double",
        _stats,
    )


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video blobs: one output row per sampled
    timestamp — the tile/explode pattern (M2) applied to the time axis.
    Pure Catalyst: `sequence` + `explode`, no Python."""
    return media.filter(F.col("duration_ms").isNotNull()).select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(int(every_ms)))
        ).alias("sample_ms"),
    )


def decode_resize_pad(
    media: DataFrame,
    out_h: int,
    out_w: int,
    decode_stub: bool = True,
) -> DataFrame:
    """M3 for real: decode → bilinear-resize to (out_h, out_w) → uint8,
    per blob, via Arrow-batched mapInPandas (the reference's
    crop/resize/pad to the backbone input, embedding.py:280-310).

    Output: (media_id, out_mean, out_std, thumb) where `thumb` is the
    top-left 8×8 of the resized image row-major (array<int>) — small
    enough to carry through shuffles, exact enough to pin the resample
    math in tests. PGM blobs run the REAL pixel path end-to-end; other
    formats follow the decode_stub contract of decode_media."""
    from .imagecodec import resize_bilinear

    def _resize(r):
        mat = decode_media(
            bytes(r.content), int(r.width), int(r.height), decode_stub
        )
        out = np.rint(resize_bilinear(mat, out_h, out_w)).astype(np.uint8)
        thumb = [int(v) for v in out[:8, :8].ravel()]
        return [(r.media_id, float(out.mean()), float(out.std()), thumb)]

    return map_rows(
        media.select("media_id", "content", "width", "height"),
        "media_id long, out_mean double, out_std double, thumb array<int>",
        _resize,
    )


def media_from_audio_files(spark: SparkSession, path: str | None = None) -> DataFrame:
    """REAL audio scan: binaryFile over the WAV fixture. The canonical
    44-byte PCM header puts sample-rate and data-size at fixed offsets,
    so both parse in pure Catalyst from the HEX encoding (little-endian
    byte math) — the executors' decoder then re-reads the same header
    from the same bytes.

    The fixed offsets are only valid for the canonical layout (fmt
    chunk at byte 12, data chunk at byte 36) — decode_wav tolerates
    extra chunks (LIST/INFO) by walking them, but this Catalyst parse
    cannot, so a non-canonical WAV would silently yield wrong
    n_samples/duration. Guard: the layout is VALIDATED in the parse
    ('fmt ' at 12, 'data' at 36) and the metadata fields are NULLed
    for any file that doesn't match, rather than being wrong."""
    from ..sources.binary import ensure_audio_fixture, read_binary_files

    raw = read_binary_files(spark, path or ensure_audio_fixture(), glob="*.wav")
    hx = F.lower(F.hex(F.substring(F.col("content"), 1, 48)))

    def _le32(start_byte: int):  # 0-based byte offset → little-endian u32
        val = F.lit(0).cast("long")
        for k in range(3, -1, -1):
            val = val * 256 + _hex_byte(hx, start_byte + k)
        return val

    canonical = (
        # "fmt " at byte 12 and "data" at byte 36 — hex '666d7420' /
        # '64617461' (1-based hex positions 2*off+1).
        (F.substring(hx, 2 * 12 + 1, 8) == "666d7420")
        & (F.substring(hx, 2 * 36 + 1, 8) == "64617461")
    )
    n_samples = F.when(canonical, (_le32(40) / 2).cast("long"))
    rate = F.when(canonical, _le32(24))
    return raw.select(
        path_media_id().alias("media_id"),
        F.lit("audio").alias("modality"),
        F.col("content"),
        F.lit("audio/wav").alias("mime_type"),
        rate.cast("int").alias("sample_rate"),
        n_samples.alias("n_samples"),
        (n_samples * 1000 / rate).cast("long").alias("duration_ms"),
    )


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode + signal features per WAV blob via Arrow-batched
    mapInPandas: RMS, peak, zero-crossing rate (the cheap VAD/quality
    signals a 100 TB audio corpus is triaged by). Same partition-
    amortized decoder pattern as the image path."""
    from .audiocodec import audio_features, decode_wav

    def _features(r):
        f = audio_features(*decode_wav(bytes(r.content)))
        return [
            (
                r.media_id,
                int(f["n_samples"]),
                float(f["duration_ms"]),
                float(f["rms"]),
                float(f["peak"]),
                float(f["zcr"]),
            )
        ]

    return map_rows(
        media.select("media_id", "content"),
        "media_id long, n_samples long, duration_ms double, "
        "rms double, peak double, zcr double",
        _features,
    )


def media_from_video_files(spark: SparkSession, path: str | None = None) -> DataFrame:
    """REAL video scan: binaryFile over the Y4M fixture, with width /
    height parsed from the ACTUAL stream headers in pure Catalyst (hex
    regexp on the ASCII prefix — same technique as the PGM scan)."""
    from ..sources.binary import ensure_video_fixture, read_binary_files

    raw = read_binary_files(spark, path or ensure_video_fixture(), glob="*.y4m")
    hx = F.lower(F.hex(F.substring(F.col("content"), 1, 48)))
    # "YUV4MPEG2 W" = 595556344d50454732 20 57; digits are 3X; " H" = 20 48
    w_hex = F.regexp_extract(hx, r"^595556344d504547322057((?:3[0-9])+)20", 1)
    h_hex = F.regexp_extract(
        hx, r"^595556344d504547322057(?:3[0-9])+2048((?:3[0-9])+)20", 1
    )
    width = F.regexp_replace(w_hex, "3(.)", "$1").cast("int")
    height = F.regexp_replace(h_hex, "3(.)", "$1").cast("int")
    return raw.select(
        path_media_id().alias("media_id"),
        F.lit("video").alias("modality"),
        F.col("content"),
        F.lit("video/x-yuv4mpeg").alias("mime_type"),
        width.alias("width"),
        height.alias("height"),
        F.col("length").alias("n_bytes"),
    )


def extract_video_frames(media: DataFrame) -> DataFrame:
    """REAL video frame extraction via mapInPandas: decode the Y4M
    stream, emit one row per frame with luma statistics — the decode
    stage behind the sample_video_frames planner (M-surface), running
    on actual frames instead of a stub. Per-file splits keep it
    embarrassingly parallel; a 100 TB corpus adds files, not state."""
    from .audiocodec import decode_y4m

    def _frames(r):
        frames, fps = decode_y4m(bytes(r.content))
        n, h, w = frames.shape
        for idx in range(n):
            f = frames[idx].astype(np.float64)  # one frame widened at a time
            yield (r.media_id, idx, w, h, int(fps), float(f.mean()), float(f.std()))

    return map_rows(
        media.select("media_id", "content"),
        "media_id long, frame_idx int, width int, height int, fps int, "
        "frame_mean double, frame_std double",
        _frames,
    )


def extract_video_motion(media: DataFrame) -> DataFrame:
    """Consecutive-frame motion energy via mapInPandas: decode the Y4M
    stream once per clip and emit, for every frame f ≥ 1, the EXACT
    integer sum of absolute luma differences vs frame f−1 — the shot-
    boundary / motion-detection primitive (a cut is a motion_mean
    spike). Integer-exact by construction: uint8 planes widened to
    int64 before the subtraction, so the sum is the same number on any
    engine or summation order. Same scale shape as
    extract_video_frames: per-file splits, embarrassingly parallel."""
    from .audiocodec import decode_y4m

    def _motion(r):
        frames, _fps = decode_y4m(bytes(r.content))
        n, h, w = frames.shape
        # Rolling two-frame buffer: widen only the current pair to int64
        # (never the whole clip at 8x raw size), so peak state really is
        # two frames regardless of clip length.
        prev = frames[0].astype(np.int64)
        for idx in range(1, n):
            cur = frames[idx].astype(np.int64)
            yield (r.media_id, idx, w, h, int(np.abs(cur - prev).sum()))
            prev = cur

    return map_rows(
        media.select("media_id", "content"),
        "media_id long, frame_idx int, width int, height int, motion_sum long",
        _motion,
    )


def extract_gif_frames(media: DataFrame) -> DataFrame:
    """REAL animation decode via mapInPandas: run the full multi-frame
    GIF path (operators/gifcodec.py:decode_gif — GCE delays, disposal,
    frame compositing on the logical screen) and emit one row per
    COMPOSITED frame with its delay and exact grey-pixel moments (the
    decode_media integer channel mean, (r+g+b)//3). The per-frame twin
    of extract_video_frames; the reference's example artifacts are
    exactly this shape (10-frame tracking GIFs read through PIL,
    embedding.py:234-250).

    Scale shape: per-file binaryFile splits, embarrassingly parallel;
    peak Python state is one decoded clip (frames are composited on a
    single logical-screen canvas, one int64 frame widened at a time)."""
    from .gifcodec import decode_gif

    def _frames(r):
        frames, delays = decode_gif(bytes(r.content))
        for idx in range(frames.shape[0]):
            g = frames[idx].astype(np.int64).sum(axis=2) // 3
            s = int(g.sum())
            h, w = g.shape
            yield (r.media_id, idx, w, h, int(delays[idx]), s, int(g.max()), s / g.size)

    return map_rows(
        media.select("media_id", "content"),
        "media_id long, frame_idx int, width int, height int, "
        "delay_ms int, px_sum long, max_intensity long, frame_mean double",
        _frames,
    )
