"""Real binary-file ingestion (SURVEY §2.1 S8).

`spark.read.format("binaryFile")` is the Spark-native form of the
reference's raw image scan (reference embedding.py:234-250 loads image
files from a directory): one row per file with (path, modificationTime,
length, content). Media blobs enter the engine here and flow into the
multimodal operators (operators/multimodal.py) as opaque binary
columns.

For a driver-checkable fixture, `ensure_binary_fixture` materializes a
small deterministic set of real files on local disk (content = a
repeated md5 digest of the file index — reproducible anywhere, no
codec libraries needed). The DuckDB oracle reads the very same files
via `read_blob`, so the scan is verified end-to-end against an
independent reader.

At 100 TB the same plan holds: `binaryFile` scans are split per file
across executors (files never concatenate into one task), and
`pathGlobFilter` / partitioned directory layouts prune at the listing
step.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

# Inside the repo (the driver and local tests share this path — derived
# from the package location so any checkout works); regenerated on
# demand, ignored by git.
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
FIXTURE_DIR = os.path.join(_REPO_ROOT, ".binary_fixture")
FIXTURE_N = 32


def _write_fixture(path: str, name: str, payload: bytes) -> None:
    """Write `payload` to `path/name` (making `path` if needed) unless
    the file already holds exactly these bytes — so a stale or
    corrupted fixture of the right size is rewritten too."""
    os.makedirs(path, exist_ok=True)
    fp = os.path.join(path, name)
    if os.path.exists(fp):
        with open(fp, "rb") as f:
            if f.read() == payload:
                return
    with open(fp, "wb") as f:
        f.write(payload)


def ensure_binary_fixture(path: str = FIXTURE_DIR, n: int = FIXTURE_N) -> str:
    """Idempotently write `n` real .bin files with deterministic bytes.

    File i holds md5(str(i)) repeated (i % 7 + 1) times — distinct
    lengths and contents, byte-identical on every machine.
    """
    for i in range(n):
        payload = hashlib.md5(str(i).encode()).digest() * (i % 7 + 1)
        _write_fixture(path, f"{i:04d}.bin", payload)
    return path


def read_binary_files(
    spark: SparkSession, path: str, glob: str = "*.bin"
) -> DataFrame:
    """S8: scan a directory of raw files as (path, modificationTime,
    length, content) rows — the binary ingestion source."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )


def list_files(spark: SparkSession, path: str, glob: str = "*") -> DataFrame:
    """File LISTING as a DataFrame (path, file_size) — the metadata-
    only half of a binaryFile scan, for operators that must NOT pay
    corpus-sized content IO (the bounded media-catalog scan, r11
    verdict task #2).

    Locally the listing is a driver-side directory walk — exactly the
    metadata operation Spark's own InMemoryFileIndex performs when
    planning a binaryFile scan, so this adds no driver work binaryFile
    wouldn't do. At cluster scale the same two columns come from the
    object-store inventory/manifest instead of os.listdir; everything
    downstream (the executor-side ranged reads) is unchanged. The
    result is repartitioned by file count so head reads fan out."""
    import fnmatch

    names = sorted(
        n
        for n in os.listdir(path)
        if fnmatch.fnmatch(n, glob)
        and os.path.isfile(os.path.join(path, n))
    )
    rows = [
        (os.path.join(path, n), os.path.getsize(os.path.join(path, n)))
        for n in names
    ]
    n_parts = max(
        1, min(len(rows), spark.sparkContext.defaultParallelism)
    )
    return spark.createDataFrame(
        rows, "path string, file_size long"
    ).repartition(n_parts)


IMAGE_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".image_fixture")
IMAGE_FIXTURE_N = 24


def ensure_image_fixture(
    path: str = IMAGE_FIXTURE_DIR, n: int = IMAGE_FIXTURE_N
) -> str:
    """Idempotently write `n` REAL binary-PGM images (openable by any
    netpbm-aware tool). Image i is a deterministic (24+i%17) ×
    (32+i%13) gradient-plus-stripe pattern — no RNG, byte-identical
    everywhere, and decodable by the pure-numpy codec
    (operators/imagecodec.py) with no external libraries."""
    import numpy as np

    from ..operators.imagecodec import encode_pgm

    for i in range(n):
        h, w = 24 + i % 17, 32 + i % 13
        yy, xx = np.mgrid[0:h, 0:w]
        mat = ((xx * (i + 2) + yy * (i + 5) + (i * 37)) % 256).astype(np.uint8)
        _write_fixture(path, f"{i:04d}.pgm", encode_pgm(mat))
    return path


AUDIO_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".audio_fixture")
AUDIO_FIXTURE_N = 16


def ensure_audio_fixture(
    path: str = AUDIO_FIXTURE_DIR, n: int = AUDIO_FIXTURE_N
) -> str:
    """Idempotently write `n` REAL 16-bit mono PCM WAV files. Clip i is
    a deterministic integer-sampled sinusoid-plus-ramp ((180+i*13)
    samples at 8 kHz) — no RNG, byte-identical everywhere, playable by
    any audio tool, decodable by operators/audiocodec.py with no
    external libraries."""
    import numpy as np

    from ..operators.audiocodec import encode_wav

    for i in range(n):
        ns = 180 + i * 13
        t = np.arange(ns)
        # integer samples from integer math only: a triangle wave plus
        # a ramp, exactly reproducible in SQL for the oracle
        tri = np.abs((t * (i + 3)) % 2000 - 1000) - 500
        ramp = (t * 7) % 301 - 150
        samples = (tri * 20 + ramp * 10).astype(np.int16)
        _write_fixture(path, f"{i:04d}.wav", encode_wav(samples, sample_rate=8000))
    return path


VIDEO_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".video_fixture")
VIDEO_FIXTURE_N = 12


def ensure_video_fixture(
    path: str = VIDEO_FIXTURE_DIR, n: int = VIDEO_FIXTURE_N
) -> str:
    """Idempotently write `n` REAL Y4M (YUV4MPEG2, Cmono) clips. Clip i
    has (3 + i % 5) frames of 32×24 deterministic moving-gradient luma —
    genuine video files (ffmpeg/mpv play them), no RNG, decodable by
    operators/audiocodec.decode_y4m with numpy alone."""
    import numpy as np

    from ..operators.audiocodec import encode_y4m

    h, w = 24, 32
    for i in range(n):
        nf = 3 + i % 5
        yy, xx = np.mgrid[0:h, 0:w]
        frames = np.stack(
            [
                ((xx * (i + 2) + yy * 3 + f * 17 + i * 41) % 256).astype(np.uint8)
                for f in range(nf)
            ]
        )
        _write_fixture(path, f"{i:04d}.y4m", encode_y4m(frames, fps=25))
    return path


PNG_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".png_fixture")
PNG_FIXTURE_N = 10
# ensure_png_fixture writes PNG_FIXTURE_N 8-bit greyscale files PLUS
# one 8-bit palette file (index PNG_FIXTURE_N) PLUS four sub-byte
# files (1/2/4-bit grey + 4-bit palette, indices N+1..N+4); size
# expectations belong on this total, not on PNG_FIXTURE_N (r8 ADVICE).
PNG_FIXTURE_TOTAL = PNG_FIXTURE_N + 5


def ensure_png_fixture(
    path: str = PNG_FIXTURE_DIR, n: int = PNG_FIXTURE_N
) -> str:
    """Idempotently write `n` REAL 8-bit greyscale PNGs (full spec
    chunks + CRCs; store-mode deflate) PLUS one color-type-3 palette
    PNG at index `n` PLUS four sub-byte-depth PNGs at indices n+1..n+4
    (1/2/4-bit grey and a 4-bit palette — the land/water-mask shapes
    of reference detection.py:1013-1030; r8 verdict task #3) —
    `n + 5` files total (PNG_FIXTURE_TOTAL). Image i is a
    deterministic integer pattern, ≥5 rows so the cycling row filter
    exercises all five PNG filter types (None/Sub/Up/Average/Paeth)
    in every file — the decode path the oracle pins is the whole
    unfilter matrix, not the trivial case. Dims stay small (≤ 12×15)
    because q_png_decode's DuckDB oracle re-reconstructs every
    scanline byte through a recursive CTE."""
    import numpy as np

    from ..operators.imagecodec import encode_png

    for i in range(n):
        h, w = 8 + i % 5, 9 + i % 7
        yy, xx = np.mgrid[0:h, 0:w]
        mat = ((xx * (i + 3) + yy * yy * (i + 2) + i * 41) % 256).astype(
            np.uint8
        )
        _write_fixture(path, f"{i:04d}.png", encode_png(mat))
    # file `n`: one color-type-3 (palette) image — the most common
    # remaining web-corpus PNG shape (r7 verdict task #5). Full
    # 256-entry PLTE, deterministic index pattern, same filter cycle;
    # q_png_decode's oracle re-derives the PLTE gather byte-by-byte.
    from ..operators.imagecodec import encode_png_palette

    h, w = 11, 13
    yy, xx = np.mgrid[0:h, 0:w]
    idx = ((xx * 7 + yy * yy * 3 + 5) % 256).astype(np.uint8)
    lut = np.arange(256)
    pal = np.stack(
        [(lut * 37) % 256, (lut * 91 + 17) % 256, (lut * 53 + 101) % 256],
        axis=1,
    ).astype(np.uint8)
    _write_fixture(path, f"{n:04d}.png", encode_png_palette(idx, pal))
    # files n+1..n+4: sub-byte depths (r8 verdict task #3 — the PNG
    # matrix vs PIL). 1/2/4-bit grey + a 4-bit palette, deterministic
    # integer patterns, filter cycle on (≥5 rows each). q_png_decode's
    # oracle bit-unpacks these from the reconstructed scanline bytes.
    subs: list[bytes] = []
    for j, d in enumerate((1, 2, 4)):
        h, w = 9 + j, 12 + j
        yy, xx = np.mgrid[0:h, 0:w]
        mat = ((xx * (j + 2) + yy * (2 * j + 3) + j) % (1 << d)).astype(
            np.uint8
        )
        subs.append(encode_png(mat, depth=d))
    h, w = 10, 13
    yy, xx = np.mgrid[0:h, 0:w]
    idx4 = ((xx * 2 + yy * 3 + 1) % 16).astype(np.uint8)
    lut = np.arange(16)
    pal4 = np.stack(
        [(lut * 16 + 7) % 256, (lut * 11 + 40) % 256, (255 - lut * 13) % 256],
        axis=1,
    ).astype(np.uint8)
    subs.append(encode_png_palette(idx4, pal4, depth=4))
    for j, payload in enumerate(subs):
        _write_fixture(path, f"{n + 1 + j:04d}.png", payload)
    return path


GIF_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".gif_fixture")
GIF_FIXTURE_N = 8


def ensure_gif_fixture(
    path: str = GIF_FIXTURE_DIR, n: int = GIF_FIXTURE_N
) -> str:
    """Idempotently write `n` REAL single-frame GIF89a files (16-color
    global palette, literal-code LZW with periodic CLEARs — valid LZW
    any reader decodes; the reference's own example artifacts are GIFs,
    examples/hill_2min_..._200-209.gif). `plain=True` keeps every
    block at a fixed offset and the whole LZW payload in ONE
    sub-block, which is what lets q_gif_decode's DuckDB oracle
    re-derive every pixel from hex arithmetically. Image i is a
    deterministic (9+i%5) × (11+i%4) index pattern over a
    deterministic palette — no RNG, byte-identical everywhere."""
    import numpy as np

    from ..operators.gifcodec import encode_gif

    for i in range(n):
        h, w = 9 + i % 5, 11 + i % 4
        yy, xx = np.mgrid[0:h, 0:w]
        idx = ((xx * (i + 2) + yy * (i + 5) + i * 3) % 16).astype(np.uint8)[
            None
        ]
        lut = np.arange(16)
        pal = np.stack(
            [
                (lut * (17 + i)) % 256,
                (lut * 23 + i * 11) % 256,
                (255 - lut * (13 + i)) % 256,
            ],
            axis=1,
        ).astype(np.uint8)
        _write_fixture(path, f"{i:04d}.gif", encode_gif(idx, pal, plain=True))
    return path


WEBP_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".webp_fixture")
WEBP_FIXTURE_N = 7


def ensure_webp_fixture(
    path: str = WEBP_FIXTURE_DIR, n: int = WEBP_FIXTURE_N
) -> str:
    """Idempotently write `n` REAL lossless-WebP (VP8L) files in the
    plain grey profile (operators/webpcodec.py:_encode_plain_grey):
    SUBTRACT_GREEN + a fixed all-length-8 green code, so pixel k's
    8-bit code sits at payload bit WEBP_PLAIN_PIXEL_BIT_OFFSET + 8k
    and q_webp_decode's DuckDB oracle re-walks the prefix-coded
    stream from hex (bit-reversing each MSB-first code word out of
    the LSB-first byte stream). Image i is a deterministic
    (9+i%5) × (11+i%4) grey gradient — no RNG, byte-identical
    everywhere."""
    import numpy as np

    from ..operators.webpcodec import encode_webp_lossless

    for i in range(n):
        h, w = 9 + i % 5, 11 + i % 4
        yy, xx = np.mgrid[0:h, 0:w]
        g = ((xx * (i + 3) + yy * (i + 7) + i * 5) % 256).astype(np.uint8)
        _write_fixture(path, f"{i:04d}.webp", encode_webp_lossless(g, plain=True))
    return path


GIF_ANIM_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".gif_anim_fixture")
GIF_ANIM_FIXTURE_N = 6


def ensure_gif_anim_fixture(
    path: str = GIF_ANIM_FIXTURE_DIR, n: int = GIF_ANIM_FIXTURE_N
) -> str:
    """Idempotently write `n` REAL multi-frame GIF89a animations
    (16-color global palette, per-frame GCE with distinct delays,
    full-screen opaque frames, literal-code LZW) — the shape of the
    reference's own example artifacts (10-frame tracking animations,
    examples/hill_2min_..._200-209.gif). Because every frame is
    full-screen with one LZW sub-block, the per-frame block size is a
    pure function of (w, h, mcs) and q_gif_frames' DuckDB oracle can
    walk EVERY frame's GCE delay and pixel stream arithmetically from
    hex: frame f's block starts at 13 + 3·G + f·(21 + L) with
    L = ceil((w·h + ceil(w·h/m) + 1)·(mcs+1) / 8). File i has
    3 + i%3 frames of a deterministic drifting index pattern — no
    RNG, byte-identical everywhere."""
    import numpy as np

    from ..operators.gifcodec import encode_gif

    for i in range(n):
        nf = 3 + i % 3
        h, w = 9 + i % 4, 11 + i % 3
        yy, xx = np.mgrid[0:h, 0:w]
        frames = np.stack(
            [
                ((xx * (i + 2) + yy * (i + 5) + f * 7 + i * 3) % 16).astype(
                    np.uint8
                )
                for f in range(nf)
            ]
        )
        lut = np.arange(16)
        pal = np.stack(
            [
                (lut * (19 + i)) % 256,
                (lut * 29 + i * 7) % 256,
                (255 - lut * (11 + i)) % 256,
            ],
            axis=1,
        ).astype(np.uint8)
        # delays 40+10f ms land exactly on centiseconds, so the
        # encoder's (ms+5)//10 rounding round-trips: decode returns
        # the same 40+10f the oracle reads from the GCE bytes.
        payload = encode_gif(
            frames, pal, delays_ms=[40 + 10 * f for f in range(nf)]
        )
        _write_fixture(path, f"{i:04d}.gif", payload)
    return path


CATALOG_FIXTURE_DIR = os.path.join(_REPO_ROOT, ".catalog_fixture")
CATALOG_FIXTURE_N = 14


def ensure_catalog_fixture(
    path: str = CATALOG_FIXTURE_DIR, n: int = CATALOG_FIXTURE_N
) -> str:
    """Idempotently write `n` deterministic media blobs mixing the
    formats a scraped corpus ships but the engine does NOT decode —
    the q_media_catalog inputs. Six kinds, cycling by index:

      i%6==0  plain lossless WebP (VP8L, the real encoder)
      i%6==1  VP8X-wrapped lossless WebP (extended container, canvas
              dims in the VP8X chunk, the same real VP8L bitstream)
      i%6==2  lossy WebP (VP8): spec-correct frame tag + 9d012a start
              code + 14-bit dims, deterministic filler payload (the
              catalog reads HEADERS; no VP8 pixel data is decoded)
      i%6==3  animated WebP: VP8X(ANIM flag) + ANIM + one ANMF whose
              embedded subchunk is the real VP8L bitstream
      i%6==4  AVIF still: ftyp(avif) + meta(hdlr/pitm/iprp(ipco(
              ispe, av1C))) + mdat filler — a spec-shaped box tree
      i%6==5  AVIF image sequence: same tree, brand avis

    Two APPENDED alpha-bearing files (indices 12-13, fixed kinds so
    earlier indices never change bytes) drive the has_alpha=TRUE
    branches through the DuckDB oracle as well:

      i==12   alpha lossy WebP: VP8X(ALPHA flag) + ALPH (16-byte
              filler payload) + the kind-2 VP8 chunk — the codec
              fourcc sits AFTER the ALPH chunk (file byte 54)
      i==13   AVIF still with an auxC alpha property in ipco

    Every byte is deterministic (md5-based filler; the VP8L payload
    comes from the pure-numpy encoder), so the DuckDB oracle re-reads
    the same headers from hex. Generation asserts each AVIF file has
    exactly ONE byte-aligned 'ispe' occurrence so the oracle's
    strpos-based locate cannot alias into filler bytes."""
    import struct

    import numpy as np

    from ..operators.webpcodec import encode_webp_lossless

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        return (
            fourcc
            + struct.pack("<I", len(payload))
            + payload
            + (b"\x00" if len(payload) & 1 else b"")
        )

    def riff(chunks: bytes) -> bytes:
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks

    for i in range(n):
        h, w = 9 + i % 5, 11 + i % 4
        yy, xx = np.mgrid[0:h, 0:w]
        g = ((xx * (i + 3) + yy * (i + 7) + i * 5) % 256).astype(np.uint8)
        # appended alpha files keep fixed kinds (7 = ALPH webp, 8 =
        # auxC avif) so indices < 12 never change bytes
        kind = i % 6 if i < 12 else 7 + (i - 12)
        filler = hashlib.md5(f"catalog{i}".encode()).digest() * 4
        if kind in (0, 1, 3):
            vp8l_file = encode_webp_lossless(g, plain=True)
            vp8l_chunk = vp8l_file[12:]  # the VP8L chunk incl. header
        if kind == 0:
            data, ext = vp8l_file, "webp"
        elif kind == 1:
            vp8x = chunk(
                b"VP8X",
                bytes([0x00, 0, 0, 0])
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"),
            )
            data, ext = riff(vp8x + vp8l_chunk), "webp"
        elif kind == 2:
            # frame tag: keyframe, version 0, show_frame, part size 100
            tag = (1 << 4) | (100 << 5)
            vp8 = chunk(
                b"VP8 ",
                tag.to_bytes(3, "little")
                + b"\x9d\x01\x2a"
                + struct.pack("<HH", w, h)
                + filler,
            )
            data, ext = riff(vp8), "webp"
        elif kind == 3:
            vp8x = chunk(
                b"VP8X",
                bytes([0x02, 0, 0, 0])
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"),
            )
            anim = chunk(b"ANIM", b"\xff\xff\xff\xff\x00\x00")
            anmf_hdr = (
                (0).to_bytes(3, "little")  # frame x/2
                + (0).to_bytes(3, "little")  # frame y/2
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little")
                + (40).to_bytes(3, "little")  # duration ms
                + bytes([0x02])  # dispose/blend flags
            )
            anmf = chunk(b"ANMF", anmf_hdr + vp8l_chunk)
            data, ext = riff(vp8x + anim + anmf), "webp"
        elif kind == 7:
            # alpha lossy WebP: VP8X(ALPHA flag) + ALPH + VP8 — the
            # codec fourcc sits after the 16-byte ALPH payload at file
            # byte 30 + 8 + 16 = 54 (oracle CASE on the ALPH fourcc)
            vp8x = chunk(
                b"VP8X",
                bytes([0x10, 0, 0, 0])
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"),
            )
            alph = chunk(b"ALPH", filler[:16])
            tag = (1 << 4) | (100 << 5)
            vp8 = chunk(
                b"VP8 ",
                tag.to_bytes(3, "little")
                + b"\x9d\x01\x2a"
                + struct.pack("<HH", w, h)
                + filler,
            )
            data, ext = riff(vp8x + alph + vp8), "webp"
        else:
            brand = b"avis" if kind == 5 else b"avif"
            ftyp = box(b"ftyp", brand + b"\x00\x00\x00\x00" + brand + b"mif1")
            hdlr = box(
                b"hdlr",
                b"\x00\x00\x00\x00" + b"\x00" * 4 + b"pict" + b"\x00" * 13,
            )
            pitm = box(b"pitm", b"\x00\x00\x00\x00\x00\x01")
            ispe = box(
                b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", w, h)
            )
            av1c = box(b"av1C", bytes([0x81, 0x04, 0x0C, 0x00]))
            auxc = (
                box(
                    b"auxC",
                    b"\x00\x00\x00\x00"
                    b"urn:mpeg:mpegB:cicp:systems:auxiliary:alpha\x00",
                )
                if kind == 8
                else b""
            )
            iprp = box(b"iprp", box(b"ipco", ispe + av1c + auxc))
            meta = box(b"meta", b"\x00\x00\x00\x00" + hdlr + pitm + iprp)
            data = ftyp + meta + box(b"mdat", filler)
            ext = "avif"
            hx = data.hex()
            assert data.count(b"ispe") == 1 and hx.count("69737065") == 1
            assert hx.find("69737065") % 2 == 0  # byte-aligned
            # the oracle's has_alpha probe is strpos(hx, 'auxC'): pin
            # that the fourcc appears (byte-aligned) EXACTLY when this
            # is the alpha kind, so md5-filler aliasing in any future
            # fixture edit fails generation loudly instead of silently
            # flipping the oracle's has_alpha
            want_auxc = 1 if kind == 8 else 0
            assert hx.count("61757843") == want_auxc, (i, kind)
            if want_auxc:
                assert hx.find("61757843") % 2 == 0
        _write_fixture(path, f"{i:04d}.{ext}", data)
    return path
