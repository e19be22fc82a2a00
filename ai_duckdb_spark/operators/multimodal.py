"""Multimodal column plumbing (SURVEY.md §2.9 X9 [D] — north-star scope).

Images/audio/video are modeled as opaque ``binary`` columns plus typed
metadata. The tier has one distributed shape, ``map_rows``: a single
Arrow-batched ``mapInPandas`` (per-partition pandas batches, the
idiomatic Spark shape for byte-level feature extraction) around a
per-row function, with pandas dtypes derived from the output schema.
Everything else here is plain Python. A synthesized-media catalog
entry is one ``decode_synthesized`` call: a per-id payload function
(``bmp_payload``, ``jpeg_payload``, … — closed-form bytes an oracle can
recompute without seeing them) and a per-payload row function
(``bmp_pixel_stats``, ``video_frame_stats``, …) run in the same
``mapInPandas``, so payload bytes never cross back to the JVM. Two
tiers, by how far into the payload they reach:

1. HEADER/METADATA — real byte-level parsing, no codec needed:
   PNG/GIF/BMP/JPEG dimensions (``parse_image_header``) and RIFF/WAVE
   chunk walks (``parse_wav_header``).
2. PIXEL/SAMPLE — real full decode for every format whose codec is
   public-spec byte/bit arithmetic over the stdlib (+numpy):
   uncompressed 24-bit BMP (``decode_bmp_pixels`` — row padding, BGR
   order, bottom-up vs top-down storage), 8-bit RGB PNG
   (``decode_png_pixels`` — CRC verify, stdlib-zlib inflate, all five
   scanline filters), Adam7-INTERLACED and indexed-color (PLTE) PNG
   (``decode_png_pixels`` handles interlace=1 and color type 3),
   greyscale/truecolor/grey+alpha/RGBA PNG at 8 and 16 bits
   (``decode_png_samples``), GIF including interlaced files
   (``decode_gif_pixels`` — variable-width LZW entropy decode, four-pass
   row order), baseline grayscale JPEG (``decode_jpeg_pixels`` —
   Huffman entropy decode, dequant, numpy IDCT), baseline COLOR JPEG
   in 4:4:4 and 4:2:0 (interleaved MCUs, two quant tables, exact
   fixed-point JFIF YCbCr transform, half-up chroma box-average),
   progressive grayscale JPEG (``decode_jpeg_progressive`` — spectral
   selection and successive approximation), 8-bit RGB TIFF
   (``decode_tiff_pixels`` — both byte orders, uncompressed and
   PackBits strips), MJPEG-AVI video
   (``decode_avi_mjpeg`` — RIFF container walk + the baseline JPEG
   core per frame), mono and stereo 16-bit PCM WAV
   (``decode_wav_samples``, ``decode_wav_pcm_channels``), G.711
   µ-law/A-law WAV (``decode_wav_g711``), IMA ADPCM lossy audio
   (``decode_wav_ima_adpcm`` — 4-bit adaptive quantizer), and exact
   fixed-point resampling (``resize_pixels``).

Each container family has one reader and one writer, and every codec
goes through them: RIFF (WAV, AVI) walks with ``_riff_chunks`` and
writes with ``_riff_chunk``, the WAV decoders reading fmt/data through
``_wave``; PNG decodes through one core (``_png_decode``, of which
``decode_png_samples`` and ``decode_png_pixels`` are views) and
encodes through ``make_png``. JPEG has one encoder and one decoder
core. ``_jpeg_encode`` writes every sequential file (gray baseline is
its one-component case, 4:4:4 and 4:2:0 color its three-component
cases); it and ``make_jpeg_progressive`` share one bit writer
(``_JpegBitWriter``), one batched block DCT + quantize
(``_jpeg_block_codes``) and one header builder (``_jpeg_header``).
``_jpeg_decode`` reads every file: one segment walk (tables through
``_jpeg_read_dqt`` / ``_jpeg_read_dht``), one entropy reader
(``_jpeg_scan``, which decodes a sequential scan with the progressive
DC-first and AC-first routines), one coefficient buffer per component
and one dequant + IDCT finish; ``_decode_jpeg_planes`` (SOF0) and
``decode_jpeg_progressive`` (SOF2) are its views.

Anything else (perceptual audio codecs, arithmetic-coded, 12-bit or
progressive color JPEG, TIFF compressions beyond PackBits) returns
None / NotImplementedError rather than misdecoding, and the row
functions turn that into zero stats or no rows. Widening a codec
touches only the per-payload function, never the distributed shape.
"""

from __future__ import annotations

import functools
import struct
import zlib
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("first_byte", T.IntegerType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
    ]
)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# JPEG frame-header (SOFn) markers that carry dimensions — every SOF
# except DHT(0xC4)/JPG(0xC8)/DAC(0xCC), per ITU T.81 table B.1.
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}



def _synth_input(df: DataFrame) -> DataFrame:
    """Ids-only input for a payload synthesizer, REPARTITIONED to the
    session's default parallelism. The synth/decode tiers are pure
    Python work inside mapInPandas, so their parallelism is the input's
    partition count — which for a small parquet fixture is the FILE
    count (often 1), serializing the whole tier on one core. The
    shuffle moves only the 8-byte id column; at real scale the input
    arrives in many files and the repartition is a cheap rebalance
    against skewed file sizes (decode cost follows rows, not bytes)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.select(F.col("doc_id")).repartition(n)


_PANDAS_DTYPES = {T.LongType: "int64", T.IntegerType: "int32"}


def map_rows(
    df: DataFrame,
    schema: T.StructType,
    to_rows: Callable[..., Iterable[tuple]],
    columns: Sequence[str] = ("doc_id", "payload"),
) -> DataFrame:
    """The media tier's one distributed shape: a single Arrow-batched
    ``mapInPandas`` that calls ``to_rows(*values)`` once per input row,
    with the values of ``columns`` in order. ``to_rows`` returns the
    output tuples in ``schema`` field order: one for a per-payload
    stats row, several for a fan-out (frames, windows), none to drop
    the row. Pandas dtypes come from the schema (Long → int64,
    Integer → int32, anything else → object), so an empty batch still
    yields a correctly typed frame."""
    fields = [(f.name, _PANDAS_DTYPES.get(type(f.dataType), "object")) for f in schema.fields]

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [out for vals in zip(*(pdf[c] for c in columns)) for out in to_rows(*vals)]
            cols = list(zip(*rows)) if rows else [()] * len(fields)
            yield pd.DataFrame(
                {name: pd.Series(col, dtype=dt) for (name, dt), col in zip(fields, cols)}
            )

    return df.mapInPandas(_run, schema)


def decode_synthesized(
    df: DataFrame,
    make: Callable[[int], bytes | tuple],
    decode: Callable[..., tuple | list[tuple] | None],
    schema: T.StructType,
) -> DataFrame:
    """Synthesize and decode in ONE ``map_rows`` pass over the doc ids of
    ``df`` (``_synth_input``). Per id, ``make(id)`` builds the payload
    bytes, or a (payload, *extras) tuple whose extras ``decode`` takes
    after the payload. ``decode`` returns the ``schema`` fields after
    doc_id: a tuple for one stats row — None (an unsupported payload)
    becomes all-zero stats rather than failing the batch — or a list of
    tuples for a fan-out of one row each (frames, windows; empty drops
    the doc). The payload bytes never leave the Python worker."""
    zero = (0,) * (len(schema.fields) - 1)

    def _rows(i: int) -> list[tuple]:
        made = make(i)
        out = decode(*((made,) if isinstance(made, bytes) else made))
        if isinstance(out, list):
            return [(i, *row) for row in out]
        return [(i, *(out or zero))]

    return map_rows(_synth_input(df), schema, _rows, ("doc_id",))


def _rgb_stats(decoded) -> tuple | None:
    """(width, height, n_pixels, sum_r, sum_g, sum_b) of a decoded
    (width, height, rows of RGB tuples) image; None passes through."""
    if decoded is None:
        return None
    w, h, rows = decoded
    sr = sg = sb = 0
    for row in rows:
        for r, g, b in row:
            sr += r
            sg += g
            sb += b
    return (w, h, w * h, sr, sg, sb)


def _luma_stats(decoded) -> tuple | None:
    """(width, height, n_pixels, sum, min, max) of a single-plane
    decoded JPEG (width, height, [plane]); None for anything else."""
    if decoded is None or len(decoded[2]) != 1:
        return None
    w, h, (plane,) = decoded
    return (w, h, w * h, int(plane.sum()), int(plane.min()), int(plane.max()))


def _amp_stats(arr: np.ndarray) -> tuple[int, int, int, int, int]:
    """(n, sum, min, max, sum of squares) of an int64 sample array, in
    numpy reductions; all zero for an empty array. int64 before
    squaring so the multiply cannot wrap."""
    if not len(arr):
        return (0, 0, 0, 0, 0)
    return (len(arr), int(arr.sum()), int(arr.min()), int(arr.max()), int((arr * arr).sum()))


def parse_image_header(data: bytes) -> tuple[str, int, int] | None:
    """Pure-Python (format, width, height) from real image header bytes.

    PNG/GIF/BMP/JPEG dimensions live in fixed/markered header fields and
    need no codec library: PNG IHDR big-endian u32 pair, GIF logical
    screen little-endian u16 pair, BMP BITMAPINFOHEADER little-endian
    i32 pair (height may be negative for top-down rows), JPEG SOFn
    marker scan. Returns None for unrecognized/truncated payloads.
    """
    if len(data) >= 24 and data[:8] == _PNG_SIG and data[12:16] == b"IHDR":
        return (
            "png",
            int.from_bytes(data[16:20], "big"),
            int.from_bytes(data[20:24], "big"),
        )
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        return (
            "gif",
            int.from_bytes(data[6:8], "little"),
            int.from_bytes(data[8:10], "little"),
        )
    if len(data) >= 26 and data[:2] == b"BM":
        return (
            "bmp",
            abs(int.from_bytes(data[18:22], "little", signed=True)),
            abs(int.from_bytes(data[22:26], "little", signed=True)),
        )
    if len(data) >= 4 and data[:2] == b"\xff\xd8":
        pos = 2
        while pos + 9 <= len(data):
            if data[pos] != 0xFF:
                break
            marker = data[pos + 1]
            seg_len = int.from_bytes(data[pos + 2 : pos + 4], "big")
            if marker in _JPEG_SOF:
                return (
                    "jpeg",
                    int.from_bytes(data[pos + 7 : pos + 9], "big"),
                    int.from_bytes(data[pos + 5 : pos + 7], "big"),
                )
            pos += 2 + seg_len
    return None


def make_image_header(fmt: str, width: int, height: int) -> bytes:
    """Deterministic real header bytes for a given format and size.

    Payloads carry the genuine on-disk header layout (signatures, field
    offsets, endianness) so parse_image_header is exercised against the
    same byte geometry a real file has; body/CRC bytes are zeroed (the
    dimension fields don't depend on them).
    """
    if fmt == "png":
        return (
            _PNG_SIG
            + (13).to_bytes(4, "big")
            + b"IHDR"
            + width.to_bytes(4, "big")
            + height.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0])
            + b"\x00" * 4
        )
    if fmt == "gif":
        return (
            b"GIF89a"
            + width.to_bytes(2, "little")
            + height.to_bytes(2, "little")
            + b"\x00" * 3
        )
    if fmt == "bmp":
        return (
            b"BM"
            + (26).to_bytes(4, "little")
            + b"\x00" * 8
            + (40).to_bytes(4, "little")
            + width.to_bytes(4, "little", signed=True)
            + height.to_bytes(4, "little", signed=True)
        )
    if fmt == "jpeg":
        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0"
            + (11).to_bytes(2, "big")
            + bytes([8])
            + height.to_bytes(2, "big")
            + width.to_bytes(2, "big")
            + bytes([1, 0x11, 0x00])
        )
        return b"\xff\xd8" + app0 + sof0
    raise ValueError(f"unknown format: {fmt}")


def decode_image(data: bytes, *, fake: bool = False) -> tuple[int, int]:
    """Decode an image payload to (width, height).

    Real path: pure-Python header parsing (PNG/GIF/BMP/JPEG — dimensions
    need no codec). Full pixel decode would need an image library not
    present in this environment; ``fake=True`` keeps the deterministic
    stub for synthetic non-image payloads.
    """
    if fake:
        n = len(data)
        first = data[0] if n else 0
        return (n % 64 + 1, first % 48 + 1)
    parsed = parse_image_header(data)
    if parsed is not None:
        return (parsed[1], parsed[2])
    raise NotImplementedError(
        "unrecognized image payload: full decode needs a codec library; "
        "PNG/GIF/BMP/JPEG header parsing is the built-in path"
    )


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Synthesize an opaque binary column (UTF-8 bytes of the text).

    Stands in for real image/audio bytes: downstream operators must treat
    it as opaque ``binary``, which is exactly what they'd see from a
    parquet/object-store scan of packed media.
    """
    return df.select(
        F.col(id_col).alias("doc_id"), F.encode(F.col(text_col), "UTF-8").alias("payload")
    )


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Byte-level feature extraction via mapInPandas (Arrow batches).

    Columnar batches cross the JVM→Python boundary once per partition
    chunk; output is a stable typed schema. Swap the body's fake decode
    for a real codec without touching the distributed shape.
    """
    return map_rows(
        binary_df,
        FEATURE_SCHEMA,
        lambda doc_id, p: [(doc_id, len(p), p[0] if len(p) else 0, *decode_image(p, fake=True))],
    )


HEADER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

_SYNTH_FORMATS = ("png", "gif", "bmp", "jpeg")


def image_header_payload(i: int) -> bytes:
    """REAL header bytes, deterministic per id.

    format = id % 4 over png/gif/bmp/jpeg, width = id % 300 + 1,
    height = id*7 % 200 + 1 — closed-form in the id so an oracle can
    recompute the expected parse results independently.
    """
    return make_image_header(_SYNTH_FORMATS[i % 4], i % 300 + 1, i * 7 % 200 + 1)


def image_header_stats(payload: bytes) -> tuple[str, int, int]:
    """HEADER_SCHEMA (format, width, height) via pure-Python header
    parsing — the real (non-stub) decode tier of X9."""
    return parse_image_header(payload) or ("unknown", 0, 0)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_n_bytes", T.LongType()),
        T.StructField("frame_byte_sum", T.LongType()),
    ]
)


def _riff_chunk(cid: bytes, body: bytes, size: int | None = None) -> bytes:
    """The one RIFF chunk writer: four-CC, little-endian size, body, and
    the pad byte that word-aligns an odd-sized body. ``size`` overrides
    the declared size for a header that announces a body it does not
    carry (the header tier's data chunk and its RIFF wrapper)."""
    size = len(body) if size is None else size
    return cid + struct.pack("<I", size) + body + b"\x00" * (len(body) % 2)


def _riff_chunks(data: bytes, pos: int = 0) -> Iterator[tuple[bytes, int, bytes]]:
    """The one RIFF chunk walk: (four-CC, declared size, body) for each
    chunk from ``pos``, stepping over the pad byte after an odd-sized
    body. A body cut short by the end of ``data`` is yielded short — it
    is always the last one — and each reader decides whether that
    rejects the file."""
    while pos + 8 <= len(data):
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        yield data[pos : pos + 4], size, data[pos + 8 : pos + 8 + size]
        pos += 8 + size + size % 2


class _WaveFmt(NamedTuple):
    """The 16 fixed bytes of a WAVE fmt chunk."""

    tag: int
    channels: int
    rate: int
    byte_rate: int
    block_align: int
    bits: int


def _wave(
    data: bytes, accept: Callable[[_WaveFmt], bool] = lambda fmt: True
) -> tuple[_WaveFmt, int, bytes] | None:
    """A RIFF/WAVE file read up to its first data chunk: (the last fmt
    chunk before it, the data chunk's declared size, its body as
    present — empty in the header tier). None for a non-WAVE payload,
    no data chunk, no fmt chunk before it, or any fmt chunk before it
    that ``accept`` rejects. A fmt chunk declaring or holding fewer
    than its 16 fixed bytes is skipped: reading 16 anyway would pull
    fields from the next chunk's bytes."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    fmt = None
    for cid, size, body in _riff_chunks(data, 12):
        if cid == b"fmt " and size >= 16 and len(body) >= 16:
            fmt = _WaveFmt._make(struct.unpack("<HHIIHH", body[:16]))
            if not accept(fmt):
                return None
        elif cid == b"data":
            return None if fmt is None else (fmt, size, body)
    return None


def make_wav_header(
    sample_rate: int, channels: int, bits: int, n_frames: int, junk: bool = False
) -> bytes:
    """A genuine RIFF/WAVE byte layout (PCM fmt chunk + empty-bodied data
    chunk declaring ``n_frames`` frames) — the AUDIO metadata tier needs
    no codec, exactly like the image header tier: RIFF is a public
    chunk-walk format (little-endian sizes, 'fmt '/'data' four-CCs).
    ``junk=True`` inserts a LIST chunk before fmt — real-world WAVs
    carry such metadata chunks, and the parser must walk past them."""
    block_align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * block_align, block_align, bits
    )
    data_bytes = n_frames * block_align
    chunks = (
        (_riff_chunk(b"LIST", b"INFO") if junk else b"")
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"data", b"", data_bytes)  # body omitted (header tier)
    )
    return _riff_chunk(b"RIFF", b"WAVE" + chunks, 4 + len(chunks) + data_bytes)


def parse_wav_header(data: bytes) -> tuple[int, int, int, int] | None:
    """Parse a RIFF/WAVE header to (channels, sample_rate, bits,
    n_frames) by walking the chunk list — pure Python, no codec. Returns
    None for non-WAV payloads. The data chunk's body (absent in the
    header tier) is never read: its declared size gives the frames."""
    wave = _wave(data)
    if wave is None:
        return None
    fmt, data_size, _ = wave
    if fmt.block_align == 0:
        return None
    return (fmt.channels, fmt.rate, fmt.bits, data_size // fmt.block_align)


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass —
# the interlace layout from the PNG spec §8.2
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]

# samples per pixel: greyscale / RGB / palette index / grey+alpha / RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_passes(width: int, height: int, interlace: bool) -> list[tuple[int, ...]]:
    """(x0, y0, dx, dy, pass_width, pass_height) of each sub-image in a
    PNG scanline stream: the whole image, or the non-empty Adam7 passes
    (an empty pass contributes no bytes)."""
    if not interlace:
        return [(0, 0, 1, 1, width, height)]
    passes = []
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx if width > x0 else 0
        ph = (height - y0 + dy - 1) // dy if height > y0 else 0
        if pw and ph:
            passes.append((x0, y0, dx, dy, pw, ph))
    return passes


def _png_filter_line(line: bytes, prior: bytes, ftype: int, bpp: int) -> bytes:
    """FORWARD-filter one scanline (encoder side) for all five spec
    filter types (None/Sub/Up/Average/Paeth) — the exact inverses of
    ``_png_unfilter``, so encode→decode roundtrips bit-for-bit."""
    if ftype == 0:
        return bytes(line)
    if ftype == 1:  # Sub
        return bytes(
            (line[i] - (line[i - bpp] if i >= bpp else 0)) & 0xFF
            for i in range(len(line))
        )
    if ftype == 2:  # Up
        return bytes((line[i] - prior[i]) & 0xFF for i in range(len(line)))
    if ftype == 3:  # Average
        return bytes(
            (line[i] - ((line[i - bpp] if i >= bpp else 0) + prior[i]) // 2) & 0xFF
            for i in range(len(line))
        )
    out = bytearray()  # Paeth
    for i in range(len(line)):
        a = line[i - bpp] if i >= bpp else 0
        b = prior[i]
        c = prior[i - bpp] if i >= bpp else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        out.append((line[i] - pred) & 0xFF)
    return bytes(out)


def _png_unfilter(raw: bytes, offset: int, n_rows: int, stride: int, bpp: int):
    """Unfilter ``n_rows`` scanlines of ``stride`` bytes starting at
    ``offset`` (each preceded by its filter-type byte), implementing all
    five spec filters. The prior row starts at zeros — pass boundaries in
    interlaced images reset it, per spec. Returns (lines, new_offset) or
    None on a bad filter byte / truncation."""
    lines: list[bytearray] = []
    prior = bytearray(stride)
    for _ in range(n_rows):
        if offset + 1 + stride > len(raw):
            return None
        ftype = raw[offset]
        line = bytearray(raw[offset + 1 : offset + 1 + stride])
        offset += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (left + prior[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = prior[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            return None
        lines.append(line)
        prior = line
    return lines, offset


def _png_decode(
    data: bytes, color_types: Sequence[int], depths: Sequence[int]
) -> tuple[int, int, int, int, list[list[tuple[int, ...]]]] | None:
    """The PNG decoder core: chunk walk to IEND (every chunk
    CRC-verified), IDAT concatenation, stdlib-zlib inflate, all-five-
    filter unfiltering per pass, and the Adam7 scatter (seven sub-images
    on the spec §8.2 grid, each unfiltered independently with its prior
    row reset). Returns (width, height, color_type, depth, rows) with
    per-pixel tuples top-down — raw samples (16-bit ones big-endian per
    spec §7.1), or the PLTE entry for a palette index — or None for a
    color type / depth outside the accepted ones or any malformed
    stream. PLTE chunks are read (and a length that is not a multiple
    of 3 rejected) only by a reader that accepts palette images."""
    if data[:8] != _PNG_SIG:
        return None
    pos, width, plte = 8, None, None
    idat = bytearray()
    while pos + 8 <= len(data):
        (clen,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if len(body) != clen or pos + 12 + clen > len(data):
            return None
        (crc,) = struct.unpack(">I", data[pos + 8 + clen : pos + 12 + clen])
        if crc != zlib.crc32(ctype + body):
            return None
        if ctype == b"IHDR":
            if clen != 13:
                return None  # IHDR must be exactly 13 bytes (PNG spec 11.2.2)
            width, height, depth, color_type, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth not in depths or color_type not in color_types:
                return None
            if comp != 0 or filt != 0 or interlace not in (0, 1):
                return None
        elif ctype == b"PLTE" and 3 in color_types:
            if clen % 3 != 0:
                return None
            plte = [tuple(body[i : i + 3]) for i in range(0, clen, 3)]
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if width is None or not idat or (color_type == 3 and plte is None):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    nch = _PNG_CHANNELS[color_type]
    sb = depth // 8  # bytes per sample
    bpp = nch * sb

    def pixels(line: bytearray, n_px: int) -> list[tuple[int, ...]]:
        if color_type == 3:
            return [plte[i] for i in line[:n_px]]  # IndexError: index past PLTE
        if sb == 1:
            return [tuple(line[i * nch : (i + 1) * nch]) for i in range(n_px)]
        return [
            tuple(
                (line[(i * nch + c) * 2] << 8) | line[(i * nch + c) * 2 + 1]
                for c in range(nch)
            )
            for i in range(n_px)
        ]

    passes, offset = [], 0
    for x0, y0, dx, dy, pw, ph in _png_passes(width, height, interlace):
        got = _png_unfilter(raw, offset, ph, pw * bpp, bpp)
        if got is None:
            return None
        lines, offset = got
        passes.append((x0, y0, dx, dy, pw, lines))
    if offset != len(raw):
        return None
    rows: list[list] = [[None] * width for _ in range(height)]
    try:
        for x0, y0, dx, dy, pw, lines in passes:
            for r, line in enumerate(lines):
                rows[y0 + r * dy][x0::dx] = pixels(line, pw)
    except IndexError:
        return None
    return (width, height, color_type, depth, rows)


def decode_png_samples(
    data: bytes,
) -> tuple[int, int, int, int, list[list[tuple[int, ...]]]] | None:
    """Generalized PNG SAMPLE decoder for the channel-based color types:
    greyscale (0), truecolor (2), greyscale+alpha (4) and RGBA (6),
    each at bit depth 8 OR 16, interlace 0 or Adam7 — the filter byte
    offset ``bpp`` is channels*depth/8, so 16-bit rows exercise
    byte-level filters spanning sample halves, the part a naive
    per-sample port gets wrong. Returns (width, height, color_type,
    depth, rows) with per-pixel channel tuples of raw sample ints
    (0..255 or 0..65535), or None outside the supported geometry
    (palette type 3 is owned by ``decode_png_pixels``)."""
    return _png_decode(data, (0, 2, 4, 6), (8, 16))


def decode_png_pixels(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]] | None:
    """Pure-stdlib FULL pixel decode of an 8-bit PNG through the core
    (``_png_decode``): truecolor (type 2) and PALETTE (type 3, PLTE
    lookup), each NON-INTERLACED or Adam7-INTERLACED. Returns (width,
    height, rows) with (r, g, b) tuples top-down, or None outside the
    supported geometry (alpha/16-bit/grayscale are
    ``decode_png_samples``'s). This plus the BMP tier makes 'pixel
    decode' a real capability of X9, not a stub: PNG's compression is
    stdlib zlib."""
    decoded = _png_decode(data, (2, 3), (8,))
    return None if decoded is None else (decoded[0], decoded[1], decoded[4])


def make_png(
    width: int,
    height: int,
    color_type: int,
    depth: int,
    sample: Callable[[int, int], tuple[int, ...]],
    *,
    palette: Sequence[tuple[int, int, int]] | None = None,
    interlace: bool = False,
    filter_cycle: int = 5,
) -> bytes:
    """The one PNG writer: a complete, VALID PNG of any color type
    (greyscale 0, RGB 2, palette 3, grey+alpha 4, RGBA 6) at depth 8 or
    16 — real zlib-compressed IDAT and real CRC32s. ``sample(x, y)`` in
    image coordinates returns the pixel's channel values; for type 3 it
    is the 1-tuple palette index and ``palette`` the (r, g, b) entries
    written as PLTE. ``interlace`` serializes the seven Adam7
    sub-images pass by pass. Row r of each pass uses filter type
    r % ``filter_cycle`` with the prior row reset per pass: 5 cycles all
    five spec filters, 3 cycles None/Sub/Up — either way a multi-row
    decode must really unfilter, not just inflate."""
    bpp = _PNG_CHANNELS[color_type] * depth // 8
    raw = bytearray()
    for x0, y0, dx, dy, pw, ph in _png_passes(width, height, interlace):
        prior = bytes(pw * bpp)
        for r in range(ph):
            line = bytearray()
            for c in range(pw):
                for v in sample(x0 + c * dx, y0 + r * dy):
                    if depth == 16:
                        line += struct.pack(">H", v & 0xFFFF)
                    else:
                        line.append(v & 0xFF)
            ftype = r % filter_cycle
            raw.append(ftype)
            raw += _png_filter_line(line, prior, ftype, bpp)
            prior = bytes(line)
    chunks = [(b"IHDR", struct.pack(">IIBBBBB", width, height, depth, color_type, 0, 0, interlace))]
    if palette is not None:
        chunks.append((b"PLTE", bytes(v & 0xFF for rgb in palette for v in rgb)))
    chunks += [(b"IDAT", zlib.compress(bytes(raw))), (b"IEND", b"")]
    return _PNG_SIG + b"".join(
        struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", zlib.crc32(ctype + body))
        for ctype, body in chunks
    )


def png_interlaced_payload(i: int) -> bytes:
    """A COMPLETE valid Adam7-interlaced RGB PNG, closed-form in the id:
    width = id%14+2, height = (id*7)%11+2 (both ≥2 so several passes
    are non-empty), pixel(x, y) =
    ((id + 2x + y) % 256, (2*id + 3y) % 256, (id + x*y) % 256)."""
    return make_png(
        i % 14 + 2,
        i * 7 % 11 + 2,
        2,
        8,
        lambda x, y: ((i + 2 * x + y) % 256, (2 * i + 3 * y) % 256, (i + x * y) % 256),
        interlace=True,
        filter_cycle=3,
    )


_PNG_SYNTH_PALETTE = [
    ((7 * i + 13) % 256, (11 * i + 29) % 256, (3 * i + 41) % 256) for i in range(256)
]


def png_palette_payload(i: int) -> bytes:
    """A COMPLETE valid indexed-color (PLTE) PNG, closed-form in the id:
    width = id%15+1, height = (id*3)%13+1, a full 256-entry palette
    p(i) = ((7i+13)%256, (11i+29)%256, (3i+41)%256), and
    index(x, y) = (id + 4x + 9y) % 256."""
    return make_png(
        i % 15 + 1,
        i * 3 % 13 + 1,
        3,
        8,
        lambda x, y: ((i + 4 * x + 9 * y) % 256,),
        palette=_PNG_SYNTH_PALETTE,
        filter_cycle=3,
    )


def png_payload(i: int) -> bytes:
    """A COMPLETE valid PNG file, closed-form in the id: width =
    id%12+1, height = id*5%10+1, pixel(x, y) =
    ((id + 3x) % 256, (id + 5y) % 256, (id + x + y) % 256); scanline
    filters cycle None/Sub/Up by row, so decoding exercises real
    unfiltering on every multi-row image."""
    return make_png(
        i % 12 + 1,
        i * 5 % 10 + 1,
        2,
        8,
        lambda x, y: ((i + 3 * x) % 256, (i + 5 * y) % 256, (i + x + y) % 256),
        filter_cycle=3,
    )


def png_pixel_stats(payload: bytes) -> tuple | None:
    """PIXEL_STATS_SCHEMA stats over a fully-decoded PNG payload — the
    compressed-format twin of bmp_pixel_stats: inflate + unfilter +
    channel sums."""
    return _rgb_stats(decode_png_pixels(payload))


def png_gray16_payload(i: int) -> bytes:
    """A COMPLETE valid 16-BIT GREYSCALE (type 0, depth 16) PNG,
    closed-form in the id: width = id%13+1, height = (id*7)%9+1,
    sample(x, y) = (id*131 + 257x + 263y) % 65536 — values spanning
    well past 8 bits so a decoder that drops the low byte (or reads
    little-endian) cannot match. Filters cycle all five types."""
    return make_png(
        i % 13 + 1, i * 7 % 9 + 1, 0, 16, lambda x, y: ((i * 131 + 257 * x + 263 * y) % 65536,)
    )


GRAY16_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_v", T.LongType()),
        T.StructField("min_v", T.LongType()),
        T.StructField("max_v", T.LongType()),
    ]
)


def png_gray16_stats(payload: bytes) -> tuple | None:
    """GRAY16_STATS_SCHEMA sum/min/max amplitude stats over a
    fully-decoded 16-bit greyscale PNG payload (decode_png_samples)."""
    decoded = decode_png_samples(payload)
    if decoded is None or decoded[2] != 0 or decoded[3] != 16:
        return None
    w, h, _ct, _d, rows = decoded
    vals = [px[0] for row in rows for px in row]
    return (w, h, w * h, sum(vals), min(vals), max(vals))


def png_rgba_payload(i: int) -> tuple[bytes, int, int, int]:
    """(payload, bg_r, bg_g, bg_b): a COMPLETE valid RGBA (type 6,
    depth 8) PNG plus a closed-form background color for compositing:
    width = id%10+1, height = (id*3)%11+1, pixel(x, y) =
    ((id+5x)%256, (id+7y)%256, (id+3x+2y)%256, alpha (id*11+17x+29y)%256),
    background ((id*13+7)%256, (id*17+11)%256, (id*19+23)%256). Filters
    cycle all five types at bpp=4."""
    payload = make_png(
        i % 10 + 1,
        i * 3 % 11 + 1,
        6,
        8,
        lambda x, y: (
            (i + 5 * x) % 256,
            (i + 7 * y) % 256,
            (i + 3 * x + 2 * y) % 256,
            (i * 11 + 17 * x + 29 * y) % 256,
        ),
    )
    return (payload, (i * 13 + 7) % 256, (i * 17 + 11) % 256, (i * 19 + 23) % 256)


ALPHA_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
        T.StructField("sum_a", T.LongType()),
    ]
)


def png_alpha_composite_stats(payload: bytes, bgr: int, bgg: int, bgb: int) -> tuple | None:
    """ALPHA_STATS_SCHEMA alpha-COMPOSITE stats over a fully-decoded
    RGBA PNG payload: each pixel is blended over the (bgr, bgg, bgb)
    background with the exact integer source-over formula
    ``out = (c*a + bg*(255-a) + 127) // 255`` (round-half-up emulated
    with the +127 bias — replayable in portable SQL, no float rounding),
    then reduced to per-channel sums plus the raw alpha sum. This is the
    real pipeline op a thumbnail/training-image normalizer runs on
    transparent inputs."""
    decoded = decode_png_samples(payload)
    if decoded is None or decoded[2] != 6 or decoded[3] != 8:
        return None
    w, h, _ct, _d, rows = decoded
    sr = sg = sb = sa = 0
    for row in rows:
        for r, g, b, a in row:
            inv = 255 - a
            sr += (r * a + bgr * inv + 127) // 255
            sg += (g * a + bgg * inv + 127) // 255
            sb += (b * a + bgb * inv + 127) // 255
            sa += a
    return (w, h, w * h, sr, sg, sb, sa)


def make_wav_pcm(sample_rate: int, *channels: list[int]) -> bytes:
    """A complete 16-bit PCM RIFF/WAVE file — header AND sample data —
    with one sample list per channel (one for mono, two for stereo),
    interleaved frame by frame (block align 2 * channels). PCM is the
    uncompressed audio case: 'decoding' is the spec's chunk walk plus
    little-endian int16 unpacking, no codec library involved."""
    assert len({len(c) for c in channels}) == 1
    n = len(channels)
    inter = [v for frame in zip(*channels) for v in frame]
    body = struct.pack(f"<{len(inter)}h", *inter)
    fmt = struct.pack("<HHIIHH", 1, n, sample_rate, sample_rate * 2 * n, 2 * n, 16)
    return _riff_chunk(b"RIFF", b"WAVE" + _riff_chunk(b"fmt ", fmt) + _riff_chunk(b"data", body))


def decode_wav_pcm_channels(data: bytes) -> tuple[int, list[list[int]]] | None:
    """Channel-aware PCM decode: RIFF walk, then DE-INTERLEAVE the int16
    frames into per-channel sample lists. Returns (sample_rate,
    [channel0, channel1, ...]) or None for non-PCM/non-16-bit/ragged
    payloads — the multichannel generalization of the mono
    ``decode_wav_samples`` tier."""
    wave = _wave(data, lambda f: f.tag == 1 and f.bits == 16 and 1 <= f.channels <= 8)
    if wave is None:
        return None
    fmt, size, body = wave
    if len(body) < size or size % (2 * fmt.channels):
        return None
    flat = struct.unpack(f"<{len(body) // 2}h", body)
    return (fmt.rate, [list(flat[c :: fmt.channels]) for c in range(fmt.channels)])


def decode_wav_pcm_raw(data: bytes) -> tuple[int, bytes] | None:
    """Pure-stdlib PCM locate-and-slice: walk the RIFF chunks to the
    data chunk and return (sample_rate, raw_int16_le_bytes) WITHOUT
    unpacking — the zero-copy form the vectorized kernels feed straight
    into ``np.frombuffer``. Returns None for non-WAV / non-PCM /
    non-16-bit / truncated payloads."""
    wave = _wave(data, lambda f: f.tag == 1 and f.bits == 16)  # PCM int16 only
    if wave is None:
        return None
    fmt, size, body = wave
    if len(body) < size or size % 2:
        return None
    return (fmt.rate, body)


def decode_wav_samples(data: bytes) -> tuple[int, list[int]] | None:
    """Pure-stdlib PCM sample decode: ``decode_wav_pcm_raw`` plus an
    int16 unpack. Returns (sample_rate, samples) or None. The sample
    tier of X9 audio — real bytes in, real amplitudes out. Hot kernels
    should prefer the raw form + ``np.frombuffer`` (per-sample Python
    loops are 50×+ slower per core than axis reductions at real media
    scale)."""

    raw = decode_wav_pcm_raw(data)
    if raw is None:
        return None
    rate, payload = raw
    return (rate, list(struct.unpack(f"<{len(payload) // 2}h", payload)))


def ulaw_decode_sample(b: int) -> int:
    """G.711 µ-law byte → linear PCM (±32124): bitwise complement, then
    magnitude ((mant·8 + 0x84) << exp) − 0x84 with the 0x80 sign bit."""
    b = ~b & 0xFF
    exp = (b >> 4) & 7
    x = ((((b & 0x0F) << 3) + 0x84) << exp) - 0x84
    return -x if b & 0x80 else x


def alaw_decode_sample(b: int) -> int:
    """G.711 A-law byte → linear PCM (±32256): XOR 0x55 toggle-mask,
    then exp-0 is (mant·16 + 8), otherwise ((mant·16 + 0x108) << (exp−1))."""
    b ^= 0x55
    exp = (b >> 4) & 7
    mant = b & 0x0F
    x = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
    return -x if b & 0x80 else x


def make_wav_g711(sample_rate: int, codec: str, raw: bytes) -> bytes:
    """A complete RIFF/WAVE file in G.711 companded format — wFormatTag
    0x07 (µ-law) or 0x06 (A-law), mono, 8 bits/sample — carrying ``raw``
    companded bytes, plus the 'fact' chunk compressed formats require."""
    tag = 0x07 if codec == "ulaw" else 0x06
    fmt = struct.pack("<HHIIHHH", tag, 1, sample_rate, sample_rate, 1, 8, 0)
    return _riff_chunk(
        b"RIFF",
        b"WAVE"
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"fact", struct.pack("<I", len(raw)))
        + _riff_chunk(b"data", raw),
    )


def decode_wav_g711(data: bytes) -> tuple[int, str, list[int]] | None:
    """Full decode of a mono G.711 WAV: RIFF chunk walk, fmt parse
    (wFormatTag 0x06/0x07, 8-bit), then per-byte µ-law/A-law expansion
    to linear PCM. Returns (sample_rate, 'ulaw'|'alaw', samples) or
    None outside the supported geometry. The companding curves are
    public-spec integer bit arithmetic (ITU G.711 tables) — the
    telephony cousin of the ADPCM tier."""
    wave = _wave(data, lambda f: f.tag in (0x06, 0x07) and f.channels == 1 and f.bits == 8)
    if wave is None:
        return None
    fmt, size, body = wave
    if len(body) < size:
        return None
    if fmt.tag == 0x07:
        return (fmt.rate, "ulaw", [ulaw_decode_sample(b) for b in body])
    return (fmt.rate, "alaw", [alaw_decode_sample(b) for b in body])


def g711_payload(i: int) -> bytes:
    """A COMPLETE mono G.711 WAV file — even ids µ-law (0x07), odd ids
    A-law (0x06) — carrying closed-form companded bytes: rate =
    RATES[id % 4], n = id % 150 + 1, byte[j] = (id*37 + j*11) % 256.
    The oracle replays the G.711 expansion curve per byte in SQL, so a
    hash match proves the bit arithmetic of both companding laws."""
    return make_wav_g711(
        _SYNTH_RATES[i % 4],
        "ulaw" if i % 2 == 0 else "alaw",
        bytes((i * 37 + j * 11) % 256 for j in range(i % 150 + 1)),
    )


G711_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_amp", T.LongType()),
        T.StructField("min_amp", T.IntegerType()),
        T.StructField("max_amp", T.IntegerType()),
    ]
)


def g711_sample_stats(payload: bytes) -> tuple:
    """G711_STATS_SCHEMA amplitude stats over a fully-decoded G.711
    payload (both companding laws)."""
    decoded = decode_wav_g711(payload)
    if decoded is None or not decoded[2]:
        return ("", 0, 0, 0, 0, 0)
    rate, codec, samples = decoded
    # decode is a table lookup per byte (sequential by law); the
    # reductions go through one numpy pass
    return (codec, rate, *_amp_stats(np.asarray(samples, dtype=np.int64))[:4])


AUDIO_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sum_amp", T.LongType()),
        T.StructField("min_amp", T.IntegerType()),
        T.StructField("max_amp", T.IntegerType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def _pcm_source(i: int) -> list[int]:
    """The closed-form mono source signal of the PCM and ADPCM tiers:
    n = id % 200 + 1 samples, sample[j] = (id*7919 + j*31) % 65536 - 32768."""
    return [(i * 7919 + j * 31) % 65536 - 32768 for j in range(i % 200 + 1)]


def wav_pcm_payload(i: int) -> bytes:
    """A COMPLETE mono 16-bit PCM WAV file, deterministic and
    closed-form in the id: rate = RATES[id % 4], samples
    ``_pcm_source(id)`` — so an oracle recomputes amplitude statistics
    without ever seeing the bytes."""
    return make_wav_pcm(_SYNTH_RATES[i % 4], _pcm_source(i))


def wav_stereo_payload(i: int) -> bytes:
    """A COMPLETE stereo 16-bit PCM WAV file, closed-form in the id:
    rate = RATES[id % 4], n = id % 120 + 1,
    left[j] = (id*53 + j*17) % 65536 - 32768, right[j] =
    (id*29 + j*41) % 65536 - 32768 — distinct per-channel formulas, so
    any interleave error (channel swap, off-by-one frame) breaks the
    per-channel sums AND the cross-channel dot product."""
    return make_wav_pcm(
        _SYNTH_RATES[i % 4],
        [(i * 53 + j * 17) % 65536 - 32768 for j in range(i % 120 + 1)],
        [(i * 29 + j * 41) % 65536 - 32768 for j in range(i % 120 + 1)],
    )


STEREO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sum_left", T.LongType()),
        T.StructField("sum_right", T.LongType()),
        T.StructField("min_left", T.IntegerType()),
        T.StructField("max_right", T.IntegerType()),
        T.StructField("dot_lr", T.LongType()),
    ]
)


def stereo_sample_stats(payload: bytes) -> tuple | None:
    """STEREO_STATS_SCHEMA per-channel amplitude stats plus the
    cross-channel dot product over a fully-decoded STEREO PCM payload
    (decode_wav_pcm_channels). The dot product pins frame ALIGNMENT:
    a one-frame slip or L/R swap changes it even when per-channel sums
    survive."""
    decoded = decode_wav_pcm_channels(payload)
    if decoded is None or len(decoded[1]) != 2 or not decoded[1][0]:
        return None
    rate, (left, right) = decoded
    # int64 before the dot product so it cannot wrap
    la = np.asarray(left, dtype=np.int64)
    ra = np.asarray(right, dtype=np.int64)
    return (
        rate,
        len(la),
        int(la.sum()),
        int(ra.sum()),
        int(la.min()),
        int(ra.max()),
        int(la @ ra),
    )


def audio_sample_stats(payload: bytes) -> tuple | None:
    """AUDIO_SAMPLE_SCHEMA (sample_rate, n_samples, sum_amp, min_amp,
    max_amp, sum_sq) by DECODING a PCM payload's sample data — the
    audio twin of bmp_pixel_stats: real amplitude work, fixed-width
    integer stats out (sum_sq is the energy integral a loudness/VAD
    pass needs; integers keep the oracle hash exact). None for an
    unsupported payload.

    Amplitude reductions are numpy axis ops over the raw int16 slice
    (``np.frombuffer`` — no per-sample Python, no intermediate list;
    int64 BEFORE squaring so the multiply can't wrap). Same integers
    out, so the oracle hash is unchanged."""
    decoded = decode_wav_pcm_raw(payload)
    if not decoded or not decoded[1]:
        return None
    rate, raw = decoded
    return (rate, *_amp_stats(np.frombuffer(raw, dtype="<i2").astype(np.int64)))


AUDIO_ENERGY_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("window_id", T.IntegerType()),
        T.StructField("n_in_window", T.LongType()),
        T.StructField("sum_amp", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
    ]
)


def audio_energy_windows(payload: bytes, window: int = 16) -> list[tuple]:
    """FRAME-LEVEL energy relation: decode a PCM payload and return one
    AUDIO_ENERGY_WINDOW_SCHEMA row per fixed ``window``-sample frame —
    (window_id, n_in_window, sum_amp, sum_sq). This is the framing step
    every audio featurization pipeline runs before spectral work (VAD,
    loudness normalization, MFCC windows), and the one media shape the
    per-doc stats entries don't exercise: a decode that FANS OUT rows
    inside mapInPandas (media file -> frame relation), so downstream
    windowed analytics stay ordinary DataFrame ops. Map-only — no
    shuffle; frame rows inherit the input's partitioning with a doc's
    frames contiguous. Integer-only outputs keep the oracle hash exact;
    the last window is short when n_samples % window != 0 (n_in_window
    says so). Unsupported payloads contribute zero rows.

    Kernel is VECTORIZED: the raw int16 slice goes
    ``np.frombuffer`` → zero-pad to a window multiple → ``reshape(-1,
    window)`` → axis-1 sums. Zero padding is reduction-neutral for both
    sum and sum-of-squares, so the short last window needs no special
    case beyond its n_in_window. int64 BEFORE squaring — a same-dtype
    numpy multiply would wrap int16. The old per-sample Python loop was
    50×+ slower per core; all amplitude values are exact integers, so
    the oracle hash is unchanged by construction."""
    decoded = decode_wav_pcm_raw(payload)
    if not decoded or not decoded[1]:
        return []
    arr = np.frombuffer(decoded[1], dtype="<i2").astype(np.int64)
    nwin = -(-len(arr) // window)
    mat = np.zeros(nwin * window, dtype=np.int64)
    mat[: len(arr)] = arr
    mat = mat.reshape(nwin, window)
    n_in = [window] * (nwin - 1) + [len(arr) - (nwin - 1) * window]
    return list(
        zip(range(nwin), n_in, mat.sum(axis=1).tolist(), (mat * mat).sum(axis=1).tolist())
    )


AUDIO_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
    ]
)

_SYNTH_RATES = (8000, 16000, 22050, 44100)


def wav_header_payload(i: int) -> bytes:
    """REAL RIFF/WAVE header bytes, deterministic per id: rate =
    RATES[id % 4], channels = id % 2 + 1, 16-bit, n_frames =
    id % 1000 + 1; every third payload carries a LIST junk chunk before
    fmt. Closed-form in the id so an oracle recomputes the expected
    parse (``parse_wav_header``, AUDIO_HEADER_SCHEMA) independently."""
    return make_wav_header(_SYNTH_RATES[i % 4], i % 2 + 1, 16, i % 1000 + 1, junk=(i % 3 == 0))


def make_bmp_image(width, height, pixel, top_down: bool = False) -> bytes:
    """Genuine uncompressed 24-bit BMP bytes with FULL pixel data.

    ``pixel(x, y) -> (r, g, b)`` is evaluated in image coordinates
    (y = 0 is the top row). The on-disk layout is the real Windows BMP
    geometry: 14-byte BITMAPFILEHEADER, 40-byte BITMAPINFOHEADER, then
    pixel rows stored BOTTOM-UP (or top-down when ``top_down``, encoded
    as a negative biHeight per the spec), each row BGR byte order and
    padded to a 4-byte boundary.
    """

    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    ys = range(height) if top_down else range(height - 1, -1, -1)
    rows = []
    for y in ys:
        row = bytearray()
        for x in range(width):
            r, g, b = pixel(x, y)
            row += bytes((b & 0xFF, g & 0xFF, r & 0xFF))  # BGR on disk
        row += b"\x00" * pad
        rows.append(bytes(row))
    pixel_array = b"".join(rows)
    off = 14 + 40
    file_header = b"BM" + struct.pack("<IHHI", off + len(pixel_array), 0, 0, off)
    info_header = struct.pack(
        "<IiiHHIIiiII",
        40,
        width,
        -height if top_down else height,
        1,  # planes
        24,  # bits per pixel
        0,  # BI_RGB (uncompressed)
        len(pixel_array),
        2835,  # 72 DPI in pixels/meter
        2835,
        0,
        0,
    )
    return file_header + info_header + pixel_array


def decode_bmp_pixels(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]] | None:
    """Pure-stdlib pixel decode of an uncompressed 24-bit BMP.

    The real (non-stub) PIXEL tier of X9: struct-walks the file header
    for bfOffBits, the info header for dimensions/bit-depth/compression,
    then reads the pixel array honoring 4-byte row padding, BGR byte
    order, and bottom-up vs top-down (negative biHeight) row storage.
    Returns (width, height, rows) with rows normalized TOP-DOWN as
    (r, g, b) tuples, or None for payloads outside the supported
    geometry (compressed, paletted, truncated, non-BMP).
    """

    if len(data) < 54 or data[:2] != b"BM":
        return None
    (off,) = struct.unpack("<I", data[10:14])
    hdr_size, width, height_raw = struct.unpack("<Iii", data[14:26])
    _planes, bits = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if hdr_size < 40 or bits != 24 or compression != 0 or width <= 0 or height_raw == 0:
        return None
    top_down = height_raw < 0
    height = abs(height_raw)
    row_bytes = width * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    if off + stride * height > len(data):
        return None
    rows: list[list[tuple[int, int, int]]] = []
    for i in range(height):
        src = i if top_down else height - 1 - i
        base = off + src * stride
        rows.append(
            [
                (data[base + 3 * x + 2], data[base + 3 * x + 1], data[base + 3 * x])
                for x in range(width)
            ]
        )
    return (width, height, rows)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_r", T.LongType()),
        T.StructField("sum_g", T.LongType()),
        T.StructField("sum_b", T.LongType()),
    ]
)


def bmp_payload(i: int) -> bytes:
    """A COMPLETE uncompressed 24-bit BMP file, deterministic and
    closed-form in the id: width = id%16+1, height = id*3%12+1,
    pixel(x, y) = ((id+x)%256, (id+y)%256, (id+x*y)%256); every 5th
    document is stored top-down (negative biHeight) so the decoder's
    row-order normalization is exercised. Closed-form pixel values let
    an oracle recompute the expected channel sums independently —
    without ever seeing the bytes."""
    return make_bmp_image(
        i % 16 + 1,
        i * 3 % 12 + 1,
        lambda x, y: ((i + x) % 256, (i + y) % 256, (i + x * y) % 256),
        top_down=(i % 5 == 0),
    )


def bmp_pixel_stats(payload: bytes) -> tuple | None:
    """PIXEL_STATS_SCHEMA (width, height, n_pixels, sum_r, sum_g, sum_b)
    by FULLY decoding a BMP payload's pixel array — the pixel tier of
    X9: byte-level decode runs executor-side, and only fixed-width stats
    cross back. Swapping decode_bmp_pixels for a real codec library
    changes nothing about the distributed shape. None for an
    unrecognized payload (zero dims/sums in ``decode_synthesized``)."""
    return _rgb_stats(decode_bmp_pixels(payload))


def _gif_lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """GIF variable-width LZW compression of a palette-index stream.

    Pure bit arithmetic over the public GIF89a spec (appendix F): codes
    start at ``min_code_size + 1`` bits, widen as the string table grows
    (encoder widens at ``next_code == (1 << size) + 1`` — exactly one
    step ahead of the decoder's ``next_code == 1 << size``, because the
    encoder registers each table entry one emit earlier than the decoder
    learns it), cap at 12 bits with a frozen table (deferred-clear
    style), and pack LSB-first. Emits an initial clear code and a
    trailing end-of-information code, bumping the width schedule after
    the final data code just as the decoder will after reading it.
    """
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def put(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    code_size = min_code_size + 1
    next_code = eoi + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    put(clear, code_size)

    def bump() -> None:
        nonlocal next_code, code_size
        if next_code < 4096:
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1

    buf: tuple[int, ...] = ()
    for k in indices:
        nxt = buf + (k,)
        if nxt in table:
            buf = nxt
            continue
        put(table[buf], code_size)
        if next_code < 4096:
            table[nxt] = next_code
        bump()
        buf = (k,)
    if buf:
        put(table[buf], code_size)
        bump()
    put(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> list[int] | None:
    """Decode a GIF LZW code stream back to palette indices.

    Implements the full spec decoder: LSB-first bit reader, clear-code
    table resets, the ``code == next_code`` (KωK) special case, width
    growth at ``next_code == 1 << size`` capped at 12 bits, and
    deferred-clear streams whose table fills to 4096 without a reset.
    Returns None on any malformed code. ``max_pixels`` bounds output so
    a corrupt stream cannot balloon memory.
    """
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = acc = nbits = 0
    code_size = min_code_size + 1
    table: list[bytes] = [bytes((i,)) for i in range(clear)] + [b"", b""]
    next_code = eoi + 1
    prev: bytes | None = None
    out = bytearray()
    while True:
        while nbits < code_size:
            if pos >= len(data):
                return None
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == eoi:
            break
        if code == clear:
            del table[eoi + 1 :]
            next_code = eoi + 1
            code_size = min_code_size + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code and next_code < 4096:
            entry = prev + prev[:1]
        else:
            return None
        out += entry
        if len(out) > max_pixels:
            return None
        if prev is not None and next_code < 4096:
            table.append(prev + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return list(out)


def _gif_palette(i: int) -> tuple[int, int, int]:
    """The closed-form 256-entry global color table used by the GIF
    tier: palette[i] = (i, (i*7) % 256, 255 - i), so channel sums are
    recomputable from palette indices alone."""
    return (i, (i * 7) % 256, 255 - i)


def _gif_interlace_rows(height: int) -> list[int]:
    """GIF89a §20 four-pass interlace row order: rows 0,8,16,… then
    4,12,… then 2,6,… then every odd row."""
    order = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        order.extend(range(start, height, step))
    return order


def make_gif_image(width, height, index, interlace: bool = False) -> bytes:
    """A complete, VALID GIF89a file with REAL LZW-compressed pixel data.

    ``index(x, y) -> palette index`` in image coordinates; the 256-entry
    global color table is ``_gif_palette``. Layout per the public spec:
    header, logical screen descriptor, global color table, a graphic
    control extension (so decoders must skip extension blocks), image
    descriptor, LZW minimum code size byte, the code stream split into
    <=255-byte sub-blocks, block terminator, trailer. GIF's 'codec' is
    variable-width LZW — pure bit arithmetic, no library needed.
    With ``interlace=True`` the image-descriptor interlace flag (0x40)
    is set and the rows enter the LZW stream in the spec §20 four-pass
    order (8/8, 8/8+4, 4/4+2, 2/2+1)."""

    gct = b"".join(bytes(_gif_palette(i)) for i in range(256))
    row_order = _gif_interlace_rows(height) if interlace else range(height)
    indices = [index(x, y) & 0xFF for y in row_order for x in range(width)]
    lzw = _gif_lzw_encode(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)  # 256-entry GCT
        + gct
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # graphic control extension
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, width, height, 0x40 if interlace else 0)
        + bytes((8,))  # LZW minimum code size
        + bytes(blocks)
        + b"\x00\x3b"
    )


def decode_gif_pixels(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]] | None:
    """Pure-stdlib FULL pixel decode of a GIF89a/87a image: logical
    screen walk, global color table, extension-block skipping, image
    descriptor, de-sub-blocking, and variable-width LZW decompression
    (``_gif_lzw_decode``). Returns (width, height, rows) of (r, g, b)
    tuples top-down, or None outside the supported geometry (local
    color tables, truncation — the long tail). Handles both sequential
    and INTERLACED (§20 four-pass) row layouts. This closes the
    'GIF LZW' entry of the entropy-coded gap list: LZW is public-spec
    bit arithmetic, no codec library involved."""

    if len(data) < 13 or data[:6] not in (b"GIF89a", b"GIF87a"):
        return None
    _sw, _sh, packed, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    if not packed & 0x80:
        return None  # no global color table
    gct_n = 2 << (packed & 0x07)
    pos = 13
    if pos + gct_n * 3 > len(data):
        return None
    palette = [tuple(data[pos + 3 * i : pos + 3 * i + 3]) for i in range(gct_n)]
    pos += gct_n * 3
    while pos < len(data):
        b0 = data[pos]
        if b0 == 0x21:  # extension: label byte then sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
        elif b0 == 0x2C:
            break
        else:
            return None
    if pos >= len(data) or data[pos] != 0x2C or pos + 10 > len(data):
        return None
    _left, _top, width, height, ipacked = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
    if ipacked & 0x80 or width == 0 or height == 0:
        return None  # local color table unsupported
    interlaced = bool(ipacked & 0x40)
    pos += 10
    if pos >= len(data):
        return None
    mcs = data[pos]
    pos += 1
    lzw = bytearray()
    while pos < len(data) and data[pos] != 0:
        n = data[pos]
        if pos + 1 + n > len(data):
            return None
        lzw += data[pos + 1 : pos + 1 + n]
        pos += 1 + n
    if not (2 <= mcs <= 8):
        return None
    indices = _gif_lzw_decode(bytes(lzw), mcs, width * height)
    if indices is None or len(indices) != width * height:
        return None
    if any(i >= gct_n for i in indices):
        return None
    if interlaced:
        # stream row k belongs at display row _gif_interlace_rows(h)[k]
        deinter = [None] * height
        for k, y in enumerate(_gif_interlace_rows(height)):
            deinter[y] = indices[k * width : (k + 1) * width]
        indices = [v for row in deinter for v in row]
    return (
        width,
        height,
        [[palette[indices[y * width + x]] for x in range(width)] for y in range(height)],
    )


def gif_payload(i: int) -> bytes:
    """A COMPLETE valid GIF89a file, closed-form in the id: width =
    id%11+1, height = id*3%9+1, palette index at (x, y) =
    (id + 3x + 5y) % 256, palette ``_gif_palette``. Repeated indices
    along rows make the LZW table genuinely grow, so decoding exercises
    multi-width code reads, not just singletons."""
    return make_gif_image(i % 11 + 1, i * 3 % 9 + 1, lambda x, y: (i + 3 * x + 5 * y) % 256)


def gif_interlaced_payload(i: int) -> bytes:
    """A COMPLETE valid INTERLACED GIF89a file (image-descriptor flag
    0x40, rows LZW-encoded in the §20 four-pass order), closed-form in
    the id: width = id%9+1, height = (id*5)%13+2 (≥2 rows so at least
    two passes carry data; up to 14 rows exercises all four), palette
    index at (x, y) = (id + 2x + 7y) % 256."""
    return make_gif_image(
        i % 9 + 1, i * 5 % 13 + 2, lambda x, y: (i + 2 * x + 7 * y) % 256, interlace=True
    )


def gif_pixel_stats(payload: bytes) -> tuple | None:
    """PIXEL_STATS_SCHEMA stats over a fully-decoded GIF payload — the
    LZW twin of png_pixel_stats: de-sub-block + LZW decompress +
    palette lookup + channel sums."""
    return _rgb_stats(decode_gif_pixels(payload))


def resize_pixels(
    rows: list[list[tuple[int, int, int]]],
    dst_w: int,
    dst_h: int,
    method: str = "bilinear",
) -> list[list[tuple[int, int, int]]]:
    """Resample a decoded pixel grid to (dst_w, dst_h) in EXACT integer
    fixed-point arithmetic — deterministic, library-free, and therefore
    oracle-recomputable (unlike float resamplers whose rounding is
    implementation-defined).

    Pixel-center (align_corners=False) convention: the source coordinate
    of destination column x is (x + 0.5)·src_w/dst_w − 0.5, carried in
    1/256 fixed point as fx = ((2x+1)·src_w·128)//dst_w − 128, clamped
    to [0, (src_w−1)·256]. ``nearest`` picks round(fx/256) via
    (fx+128)//256; ``bilinear`` blends the 2×2 neighborhood with 8-bit
    fractional weights and a +32768 half-up round before the >>16.
    """
    src_h = len(rows)
    src_w = len(rows[0]) if src_h else 0
    if src_w == 0 or src_h == 0 or dst_w <= 0 or dst_h <= 0:
        return []

    def axis(dst_n: int, src_n: int) -> list[tuple[int, int, int]]:
        pts = []
        for x in range(dst_n):
            f = (2 * x + 1) * src_n * 128 // dst_n - 128
            f = max(0, min((src_n - 1) * 256, f))
            lo = f // 256
            pts.append((lo, min(lo + 1, src_n - 1), f % 256))
        return pts

    xs, ys = axis(dst_w, src_w), axis(dst_h, src_h)
    out: list[list[tuple[int, int, int]]] = []
    if method == "nearest":
        for y0, y1, wy in ys:
            sy = y1 if wy >= 128 else y0
            out.append([rows[sy][x1 if wx >= 128 else x0] for x0, x1, wx in xs])
        return out
    if method != "bilinear":
        raise ValueError(f"unknown resample method: {method}")
    for y0, y1, wy in ys:
        r0, r1 = rows[y0], rows[y1]
        line = []
        for x0, x1, wx in xs:
            p00, p10, p01, p11 = r0[x0], r0[x1], r1[x0], r1[x1]
            w00 = (256 - wx) * (256 - wy)
            w10 = wx * (256 - wy)
            w01 = (256 - wx) * wy
            w11 = wx * wy
            line.append(
                tuple(
                    (p00[c] * w00 + p10[c] * w10 + p01[c] * w01 + p11[c] * w11 + 32768)
                    >> 16
                    for c in range(3)
                )
            )
        out.append(line)
    return out


def decode_image_pixels(
    data: bytes,
) -> tuple[int, int, list[list[tuple[int, int, int]]]] | None:
    """Decode ANY supported still-image payload to (width, height, rows)
    of (r, g, b) tuples — the single dispatch the pixel-consuming tiers
    (resize, thumbnail stats) share. Tries every stdlib decoder in the
    module: BMP, PNG (incl. interlaced/palette), GIF (incl. interlaced),
    TIFF (II/MM, PackBits), baseline color JPEG (4:4:4/4:2:0), baseline
    grayscale JPEG, and progressive grayscale JPEG (luma replicated to
    RGB for the gray tiers). Returns None only for genuinely
    undecodable payloads; each decoder rejects foreign magic cheaply.
    A JPEG is entropy-decoded once: the baseline view stops at a
    progressive file's SOF2, before any scan."""
    decoded = (
        decode_bmp_pixels(data)
        or decode_png_pixels(data)
        or decode_gif_pixels(data)
        or decode_tiff_pixels(data)
    )
    if decoded is not None:
        return decoded
    jpeg = _decode_jpeg_planes(data) or decode_jpeg_progressive(data)
    if jpeg is None:
        return None
    w, h, planes = jpeg
    return (w, h, _rgb_rows(*(_jpeg_rgb(*planes) if len(planes) == 3 else planes * 3)))


def resize_image(data: bytes, width: int, height: int) -> bytes:
    """Resize an image payload to (width, height).

    Real path: decode with whichever stdlib decoder recognizes the
    payload (``decode_image_pixels`` — BMP/PNG/GIF/TIFF and baseline/
    progressive JPEG through the module's own entropy decoders),
    resample with the exact fixed-point bilinear kernel
    (``resize_pixels``), and re-encode as an uncompressed 24-bit BMP
    (the canonical interchange format of the pixel tier).
    """
    decoded = decode_image_pixels(data)
    if decoded is None:
        raise NotImplementedError(
            "unsupported image payload: not decodable as BMP/PNG/GIF/TIFF "
            "or baseline/progressive JPEG within the supported geometry"
        )
    _w, _h, rows = decoded
    resized = resize_pixels(rows, width, height, method="bilinear")
    return make_bmp_image(width, height, lambda x, y: resized[y][x])


_IMA_STEP_TABLE = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_TABLE = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_quantize(diff: int, step: int) -> tuple[int, int]:
    """One IMA ADPCM quantizer step: map a predictor-to-sample delta to
    a 4-bit nibble and the reconstructed delta, per the public IMA/DVI
    spec's bit-serial loop (sign, step, step/2, step/4 trials with a
    constant step/8 bias). Returns (nibble, signed_reconstructed_diff).
    """
    nibble = 0
    if diff < 0:
        nibble = 8
        diff = -diff
    diffq = step >> 3
    if diff >= step:
        nibble |= 4
        diff -= step
        diffq += step
    if diff >= step >> 1:
        nibble |= 2
        diff -= step >> 1
        diffq += step >> 1
    if diff >= step >> 2:
        nibble |= 1
        diffq += step >> 2
    return nibble, -diffq if nibble & 8 else diffq


def ima_adpcm_encode(samples: list[int]) -> tuple[int, int, bytes]:
    """Compress int16 PCM to IMA ADPCM nibbles (4:1, LOSSY).

    Returns (initial_predictor, initial_index, nibble_bytes): the first
    sample seeds the predictor exactly (it travels in the block header,
    as in the WAV format-0x11 layout), index starts at 0, and each
    following sample becomes one 4-bit nibble, packed low-nibble-first.
    Encoder-side reconstruction mirrors the decoder exactly, so encoder
    and decoder predictors never drift — the property the recursive
    oracle relies on.
    """
    if not samples:
        return (0, 0, b"")
    pred = samples[0]
    # seed the step index near the first delta (standard encoder-side
    # optimization — the index travels in the block header, so any
    # seed is decoder-compatible; this one skips the slew-up from
    # step=7 on hot signals)
    d0 = abs(samples[1] - samples[0]) if len(samples) > 1 else 0
    index0 = min(
        range(len(_IMA_STEP_TABLE)),
        key=lambda i: abs(_IMA_STEP_TABLE[i] - d0),
    )
    index = index0
    nibbles: list[int] = []
    for s in samples[1:]:
        step = _IMA_STEP_TABLE[index]
        nibble, diffq = _ima_quantize(s - pred, step)
        pred = max(-32768, min(32767, pred + diffq))
        index = max(0, min(88, index + _IMA_INDEX_TABLE[nibble & 7]))
        nibbles.append(nibble)
    if len(nibbles) % 2:
        nibbles.append(0)
    packed = bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )
    return (samples[0], index0, packed)


def ima_adpcm_decode(
    predictor: int, index: int, data: bytes, n_samples: int
) -> list[int]:
    """Decode IMA ADPCM nibbles back to int16 PCM (the block-header
    predictor is emitted as sample 0), clamping predictor to int16 and
    index to the 89-entry step table per spec. A corrupt block header
    can carry any uint8 step index — clamp on entry so hostile input
    degrades to wrong samples, never an executor-side exception."""
    index = max(0, min(88, index))
    out = [predictor]
    pred = predictor
    for i in range(n_samples - 1):
        nibble = (data[i // 2] >> (4 * (i % 2))) & 0xF
        step = _IMA_STEP_TABLE[index]
        diffq = step >> 3
        if nibble & 4:
            diffq += step
        if nibble & 2:
            diffq += step >> 1
        if nibble & 1:
            diffq += step >> 2
        pred = max(-32768, min(32767, pred + (-diffq if nibble & 8 else diffq)))
        index = max(0, min(88, index + _IMA_INDEX_TABLE[nibble & 7]))
        out.append(pred)
    return out


def make_wav_ima_adpcm(sample_rate: int, samples: list[int]) -> bytes:
    """A complete RIFF/WAVE file in IMA ADPCM format (wFormatTag 0x11,
    mono, 4 bits/sample): extended fmt chunk with wSamplesPerBlock, a
    'fact' chunk carrying the true frame count (mandatory for
    compressed formats), and a data chunk of spec-layout blocks — each
    a 4-byte header (int16 predictor, uint8 step index, reserved) plus
    packed nibbles, low nibble first."""

    block_align = 1024  # bytes per block -> (1024-4)*2+1 samples
    spb = (block_align - 4) * 2 + 1
    blocks = bytearray()
    for off in range(0, max(len(samples), 1), spb):
        chunk = samples[off : off + spb]
        pred, idx, packed = ima_adpcm_encode(chunk)
        blocks += struct.pack("<hBB", pred, idx, 0)
        blocks += packed.ljust(block_align - 4, b"\x00")
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        1,
        sample_rate,
        sample_rate * block_align // spb,
        block_align,
        4,
        2,  # cbSize
        spb,
    )
    return _riff_chunk(
        b"RIFF",
        b"WAVE"
        + _riff_chunk(b"fmt ", fmt)
        + _riff_chunk(b"fact", struct.pack("<I", len(samples)))
        + _riff_chunk(b"data", bytes(blocks)),
    )


def decode_wav_ima_adpcm(data: bytes) -> tuple[int, list[int]] | None:
    """Full decode of a mono IMA ADPCM WAV: RIFF chunk walk, extended
    fmt parse (format 0x11, 4-bit), 'fact' frame count, then per-block
    header + nibble decompression via ``ima_adpcm_decode``. Returns
    (sample_rate, samples) or None outside the supported geometry.
    This closes the 'lossy audio' entry of the entropy-coded gap list:
    IMA/DVI ADPCM is public-spec integer arithmetic end-to-end."""

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    rate = block_align = spb = n_frames = body = None
    for cid, clen, chunk in _riff_chunks(data, 12):
        if len(chunk) != clen:
            return None  # truncated chunk
        if cid == b"fmt ":
            if clen < 16:
                return None
            tag, channels, rate, _bps, block_align, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            if tag != 0x11 or channels != 1 or bits != 4:
                return None
            if clen >= 20:
                (spb,) = struct.unpack("<H", chunk[18:20])
        elif cid == b"fact":
            if clen < 4:
                return None
            (n_frames,) = struct.unpack("<I", chunk[:4])
        elif cid == b"data":
            body = chunk
    if rate is None or body is None or n_frames is None or not block_align:
        return None
    if spb is None:
        spb = (block_align - 4) * 2 + 1
    samples: list[int] = []
    for off in range(0, len(body), block_align):
        block = body[off : off + block_align]
        if len(block) < 4 or len(samples) >= n_frames:
            break
        pred, idx, _res = struct.unpack("<hBB", block[:4])
        want = min(spb, n_frames - len(samples))
        samples += ima_adpcm_decode(pred, idx, block[4:], want)
    if len(samples) != n_frames:
        return None
    return (rate, samples)


# Baseline JPEG (ITU T.81) — the public-spec constants: zig-zag scan
# order (figure A.6), the Annex K.1 luminance quantization table, and
# the Annex K.3/K.5 "typical" Huffman tables (BITS + HUFFVAL form).
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)
_JPEG_QTABLE = (
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
)
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
)


def _jpeg_huff_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """Canonical Huffman code assignment per T.81 C.2: symbol ->
    (code, length), codes counted up within a length then doubled."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# Universal 8-bit-flat Huffman table for progressive AC scans: all 255
# symbols 0x00..0xFE at code length 8 (canonical codes 0..254; the
# all-ones length-8 code 255 is never assigned, per the spec convention;
# Kraft sum 255/256 < 1 so the code is valid). Progressive AC-first
# scans need EOBn symbols (r<<4 for r=1..14) that the Annex K.5 baseline
# table does not carry — a flat table covers every run/size pair.
_JPEG_FLAT_BITS = (0, 0, 0, 0, 0, 0, 0, 255, 0, 0, 0, 0, 0, 0, 0, 0)
_JPEG_FLAT_VALS = tuple(range(255))
_JPEG_DC_HUFF = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
_JPEG_AC_HUFF = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
_JPEG_FLAT_HUFF = _jpeg_huff_codes(_JPEG_FLAT_BITS, _JPEG_FLAT_VALS)
# DHT payloads: DC table 0 alone, DC + typical AC table 0, flat AC table 0
_JPEG_DHT_DC = bytes((0x00, *_JPEG_DC_BITS, *_JPEG_DC_VALS))
_JPEG_DHT_TYPICAL = _JPEG_DHT_DC + bytes((0x10, *_JPEG_AC_BITS, *_JPEG_AC_VALS))
_JPEG_DHT_FLAT = bytes((0x10, *_JPEG_FLAT_BITS, *_JPEG_FLAT_VALS))

# 8-point DCT-II basis: the 2D DCT of a block is M @ block @ M.T
_JPEG_DCT = 0.5 * np.cos((2 * np.arange(8)[None, :] + 1) * np.arange(8)[:, None] * np.pi / 16)
_JPEG_DCT[0, :] *= 1 / np.sqrt(2.0)
_JPEG_ZIGZAG_INDEX = np.asarray(_JPEG_ZIGZAG)


def _jpeg_segment(marker: int, payload: bytes) -> bytes:
    """One marker segment: the 0xFFxx marker, the big-endian length
    (payload plus the length field itself), the payload."""
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _jpeg_sos(ncomps: int, ss: int, se: int, ah: int, al: int) -> bytes:
    """SOS segment for components 1..ncomps, each on DC and AC table 0,
    coding spectral band ss..se at successive-approximation bits ah/al."""
    sel = (v for c in range(1, ncomps + 1) for v in (c, 0))
    return _jpeg_segment(0xFFDA, bytes((ncomps, *sel, ss, se, (ah << 4) | al)))


def _jpeg_header(sof, width, height, qtables, comps, dht, restart_interval=0, band=(0, 63, 0, 0)):
    """SOI and every segment before the first scan's entropy data: DQT
    with ``qtables`` (row-major, ids 0, 1, ...), the ``sof`` frame
    header with ``comps`` as (sampling, table id) for components 1,
    2, ..., DHT with the ``dht`` payload, DRI when ``restart_interval``
    > 0, and the first scan's SOS over ``band`` (ss, se, ah, al)."""
    dqt = b"".join(bytes((tq, *(q[z] for z in _JPEG_ZIGZAG))) for tq, q in enumerate(qtables))
    frame = struct.pack(">BHHB", 8, height, width, len(comps)) + bytes(
        v for c, (s, tq) in enumerate(comps, 1) for v in (c, 0x11 * s, tq)
    )
    dri = _jpeg_segment(0xFFDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xFFDB, dqt)
        + _jpeg_segment(sof, frame)
        + _jpeg_segment(0xFFC4, dht)
        + dri
        + _jpeg_sos(len(comps), *band)
    )


class _JpegBitWriter:
    """Entropy-coded data writer: codes go out MSB first, and ``flush``
    pads the last byte with 1-bits, stuffs a 0x00 after every 0xFF and
    returns the bytes written since the previous flush."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        acc = (self.acc << length) | code
        n = self.nbits + length
        while n >= 8:
            n -= 8
            self.out.append((acc >> n) & 0xFF)
        self.acc = acc & ((1 << n) - 1)
        self.nbits = n

    def put_coef(self, huff, run: int, v: int) -> None:
        """The Huffman code of (run, size of v), then v's size low bits
        (negative values one's-complemented, T.81 F.1.2.1)."""
        s = abs(v).bit_length()
        self.put(*huff[(run << 4) | s])
        if s:
            self.put(v if v >= 0 else v + (1 << s) - 1, s)

    def flush(self) -> bytes:
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        data = bytes(self.out).replace(b"\xff", b"\xff\x00")
        self.out.clear()
        return data


def _jpeg_block_codes(plane, qtable) -> np.ndarray:
    """Level shift, 2D DCT of every 8x8 block of ``plane`` at once,
    quantization by the row-major ``qtable``, zig-zag: a (block rows,
    block columns, 64) int64 array."""
    p = np.asarray(plane, dtype=np.float64) - 128.0
    bh, bw = p.shape[0] // 8, p.shape[1] // 8
    blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    q = np.asarray(qtable, dtype=np.float64).reshape(8, 8)
    codes = np.rint((_JPEG_DCT @ blocks @ _JPEG_DCT.T) / q).astype(np.int64)
    return codes.reshape(bh, bw, 64)[:, :, _JPEG_ZIGZAG_INDEX]


def _jpeg_encode(width, height, qtables, comps, restart_interval: int = 0) -> bytes:
    """The sequential (SOF0) JPEG encoder behind every baseline writer.
    ``comps`` holds (plane, sampling, quant table id) per component: a
    plane padded to the MCU size, sampling 1 for one block per MCU or 2
    for 2x2 blocks. ``qtables`` are the row-major tables by id.
    Interleaved MCUs, per-component DC DPCM, AC run/size with ZRL and
    EOB on the Annex K.3/K.5 tables, 0xFF stuffing. With
    ``restart_interval`` > 0 a DRI segment is written and the entropy
    data is split by modulo-8-sequenced RSTn markers every that many
    MCUs (byte-aligned 1-bit padding, DC predictors reset)."""
    coded = []
    for plane, s, tq in comps:
        codes = _jpeg_block_codes(plane, qtables[tq])
        nz = codes[:, :, 1:] != 0
        last = np.where(nz.any(axis=2), 63 - nz[:, :, ::-1].argmax(axis=2), 0)
        coded.append((codes.tolist(), last.tolist(), s))
    plane, s, _tq = comps[0]  # the first component has the largest sampling
    mcuy, mcux = (n // (8 * s) for n in np.shape(plane))
    w = _JpegBitWriter()
    put, put_coef = w.put, w.put_coef
    eob, zrl = _JPEG_AC_HUFF[0x00], _JPEG_AC_HUFF[0xF0]
    out = bytearray()
    preds = [0] * len(comps)
    for mcu in range(mcuy * mcux):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out += w.flush() + bytes((0xFF, 0xD0 + (mcu // restart_interval - 1) % 8))
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcux)
        for c, (codes, last, s) in enumerate(coded):
            for by in range(my * s, my * s + s):
                for bx in range(mx * s, mx * s + s):
                    zz, n = codes[by][bx], last[by][bx]
                    put_coef(_JPEG_DC_HUFF, 0, zz[0] - preds[c])
                    preds[c] = zz[0]
                    run = 0
                    for v in zz[1 : n + 1]:
                        if not v:
                            run += 1
                            continue
                        while run > 15:
                            put(*zrl)
                            run -= 16
                        put_coef(_JPEG_AC_HUFF, run, v)
                        run = 0
                    if n < 63:
                        put(*eob)
    out += w.flush()
    frame = [(s, tq) for _p, s, tq in comps]
    header = _jpeg_header(
        0xFFC0, width, height, qtables, frame, _JPEG_DHT_TYPICAL, restart_interval
    )
    return header + bytes(out) + b"\xff\xd9"


def _jpeg_gray_plane(width, height, pixel) -> np.ndarray:
    """``pixel(x, y) & 0xFF`` over the 8-aligned block grid, the last
    column and row replicated into the padding."""
    pw, ph = (width + 7) // 8 * 8, (height + 7) // 8 * 8
    rows = [
        [pixel(min(x, width - 1), min(y, height - 1)) & 0xFF for x in range(pw)]
        for y in range(ph)
    ]
    return np.array(rows, dtype=np.int64).reshape(ph, pw)


def make_jpeg_image(width, height, pixel, restart_interval: int = 0) -> bytes:
    """A complete, VALID baseline grayscale JPEG (ITU T.81 sequential
    DCT): the one-component case of the sequential encoder
    (``_jpeg_encode``) — level shift, float 2D DCT per 8x8 block
    (edge-replicated padding), Annex K.1 quantization, zig-zag, DC DPCM
    + Annex K.3/K.5 Huffman entropy coding with 0xFF byte stuffing,
    wrapped in real SOI/DQT/SOF0/DHT/SOS/EOI segments. ``pixel(x, y) ->
    luma 0..255``. With ``restart_interval`` > 0 a DRI segment is
    emitted and the entropy stream is split with modulo-8-sequenced
    RSTn markers every that many MCUs (byte-aligned 1-bit padding, DC
    predictors reset) — the error-resilience layout real-world camera
    JPEGs use.
    """
    plane = _jpeg_gray_plane(width, height, pixel)
    return _jpeg_encode(width, height, [_JPEG_QTABLE], [(plane, 1, 0)], restart_interval)


# Annex K.2 chrominance quantization table (row-major).
_JPEG_CHROMA_QTABLE = (
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
)


def _fx_rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """EXACT fixed-point RGB -> YCbCr (the JFIF matrix scaled by 2^16,
    half-up rounding, floor shift, clamp to 0..255). Integer end-to-end
    so an SQL oracle can replay it; the coefficient triples sum to
    exactly 65536 / 0 so constant-gray inputs map to (v, 128, 128)."""
    y = (19595 * r + 38470 * g + 7471 * b + 32768) >> 16
    cb = ((-11059 * r - 21709 * g + 32768 * b + 32768) >> 16) + 128
    cr = ((32768 * r - 27439 * g - 5329 * b + 32768) >> 16) + 128
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)
    return clamp(y), clamp(cb), clamp(cr)


def _fx_ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """EXACT fixed-point YCbCr -> RGB (inverse JFIF matrix scaled by
    2^16, half-up rounding, floor shift, clamp) — the decoder-side
    conversion the color oracle replays in SQL."""
    r = y + ((91881 * (cr - 128) + 32768) >> 16)
    g = y - ((22554 * (cb - 128) + 46802 * (cr - 128) + 32768) >> 16)
    b = y + ((116130 * (cb - 128) + 32768) >> 16)
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)
    return clamp(r), clamp(g), clamp(b)


def _encode_jpeg_color_planes(width, height, yp, cbp, crp, sub: bool) -> bytes:
    """Encode full-resolution integer YCbCr planes (numpy, padded to the
    MCU alignment) as a complete baseline color JPEG — the three-component
    case of the sequential encoder (``_jpeg_encode``), behind
    ``make_jpeg_color_image`` and the vectorized payload synthesizers.
    Luma and chroma tables (Annex K.1/K.2) both with DC step 8. ``sub``
    selects 4:2:0 (exact half-up 2x2 box-average chroma downsample +
    16x16 MCUs) vs 4:4:4."""
    qluma = list(_JPEG_QTABLE)
    qluma[0] = 8
    qchroma = list(_JPEG_CHROMA_QTABLE)
    qchroma[0] = 8
    if sub:
        cbp, crp = (
            (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2] + 2) // 4
            for p in (np.asarray(cbp, dtype=np.int64), np.asarray(crp, dtype=np.int64))
        )
    comps = [(yp, 2 if sub else 1, 0), (cbp, 1, 1), (crp, 1, 1)]
    return _jpeg_encode(width, height, [qluma, qchroma], comps)


def make_jpeg_color_image(width, height, pixel, subsampling: str = "444") -> bytes:
    """A complete, VALID baseline COLOR JPEG (YCbCr, interleaved MCUs):
    exact fixed-point RGB->YCbCr, per-component float DCT with TWO
    quantization tables (luma/chroma, both with DC step 8 so
    per-block-constant components reconstruct exactly), per-component
    DC DPCM, Annex K.3/K.5 Huffman coding (spec-legally assigned to all
    three components), 0xFF stuffing. ``pixel(x, y) -> (r, g, b)``.
    ``subsampling``: '444' (one 1x1 block per component per MCU) or
    '420' (16x16 MCUs of four luma blocks + one block each of the
    half-resolution chroma planes, downsampled by an exact half-up 2x2
    box average — the layout real-world baseline JPEGs use)."""
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling: {subsampling}")
    sub = subsampling == "420"
    align = 16 if sub else 8
    pw = (width + align - 1) // align * align
    ph = (height + align - 1) // align * align
    yp = np.empty((ph, pw), dtype=np.int64)
    cbp = np.empty((ph, pw), dtype=np.int64)
    crp = np.empty((ph, pw), dtype=np.int64)
    for y in range(ph):
        sy = min(y, height - 1)
        for x in range(pw):
            r, g, b = pixel(min(x, width - 1), sy)
            yy, cb, cr = _fx_rgb_to_ycbcr(r & 0xFF, g & 0xFF, b & 0xFF)
            yp[y, x] = yy
            cbp[y, x] = cb
            crp[y, x] = cr
    return _encode_jpeg_color_planes(width, height, yp, cbp, crp, sub)


def _jpeg_rgb(py, pcb, pcr):
    """The exact fixed-point YCbCr -> RGB of ``_fx_ycbcr_to_rgb`` over
    whole int64 planes."""
    cb = pcb - 128
    cr = pcr - 128
    return (
        np.clip(py + ((91881 * cr + 32768) >> 16), 0, 255),
        np.clip(py - ((22554 * cb + 46802 * cr + 32768) >> 16), 0, 255),
        np.clip(py + ((116130 * cb + 32768) >> 16), 0, 255),
    )


def _rgb_rows(r, g, b) -> list[list[tuple[int, int, int]]]:
    """Top-down rows of (r, g, b) int tuples from three planes."""
    return [list(zip(*rows)) for rows in zip(r.tolist(), g.tolist(), b.tolist())]


def decode_jpeg_color_arrays(data: bytes):
    """FULL decode of a baseline COLOR JPEG (4:4:4 or 4:2:0) via the
    shared core plus the exact fixed-point YCbCr->RGB conversion,
    returned as (width, height, (r, g, b)) numpy int64 arrays — the
    zero-copy path the stats extractor reduces over."""
    decoded = _decode_jpeg_planes(data)
    if decoded is None or len(decoded[2]) != 3:
        return None
    width, height, planes = decoded
    return (width, height, _jpeg_rgb(*planes))


def decode_jpeg_color_pixels(
    data: bytes,
) -> tuple[int, int, list[list[tuple[int, int, int]]]] | None:
    """FULL decode of a baseline COLOR JPEG (4:4:4 or 4:2:0) to
    (width, height, rows) of (r, g, b) tuples top-down, or None outside
    the supported geometry (4:2:2/progressive stay the long tail)."""
    decoded = decode_jpeg_color_arrays(data)
    if decoded is None:
        return None
    width, height, rgb = decoded
    return (width, height, _rgb_rows(*rgb))


@functools.lru_cache(maxsize=16)
def _jpeg_huff_lut(bits: bytes, vals: bytes) -> tuple[int, ...] | None:
    """Canonical Huffman table (T.81 C.2) as a 16-bit-peek LUT.

    Entry = ``(symbol << 5) | code_length`` for every 16-bit window that
    starts with that code (0 = invalid window). One list index replaces
    the per-bit loop with a dict probe per candidate length — the
    entropy decode is the only per-pixel-order Python in the JPEG tier,
    and the LUT form measures ~5x faster on the same scans. Returns
    None when the (bits, vals) spec overruns the 16-bit code space
    (corrupted DHT — the never-raise executor contract turns that into
    a rejected file, not an exception).

    Memoized per (bits, vals) bytes: building the 65,536 entries is
    most of a small file's decode, and files from one encoder carry the
    same tables. The LUT is a tuple because every caller shares it; 16
    tables (~0.5 MB each) cover any one encoder's DC/AC pairs."""
    lut = [0] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            base = code << (16 - length)
            end = (code + 1) << (16 - length)
            if end > 65536:
                return None
            lut[base:end] = [(vals[k] << 5) | length] * (end - base)
            code += 1
            k += 1
        code <<= 1
    return tuple(lut)


def _jpeg_read_dqt(body: bytes, qtables: dict[int, list[int]]) -> bool:
    """Read a DQT segment's tables into ``qtables`` (table id -> 64
    steps in zig-zag order). False for a 16-bit table (unsupported) or
    a table cut short by the segment length."""
    b = 0
    while b < len(body):
        pq, tq = body[b] >> 4, body[b] & 0xF
        if pq != 0:
            return False  # 16-bit tables unsupported
        if b + 65 > len(body):
            return False  # truncated DQT (corrupted seglen)
        qtables[tq] = list(body[b + 1 : b + 65])
        b += 65
    return True


def _jpeg_read_dht(body: bytes, hufftabs: dict[tuple[int, int], tuple[int, ...]]) -> bool:
    """Read a DHT segment's tables into ``hufftabs`` ((class, id) ->
    16-bit-peek LUT, see ``_jpeg_huff_lut``). False for a truncated
    table or one whose codes overrun the 16-bit code space."""
    b = 0
    while b < len(body):
        tc, th = body[b] >> 4, body[b] & 0xF
        bits = body[b + 1 : b + 17]
        n = sum(bits)
        vals = body[b + 17 : b + 17 + n]
        if len(bits) < 16 or len(vals) < n:
            return False  # truncated DHT segment
        lut = _jpeg_huff_lut(bytes(bits), bytes(vals))
        if lut is None:
            return False  # overlong code space (corrupted DHT)
        hufftabs[(tc, th)] = lut
        b += 17 + n
    return True


def _jpeg_scan(data, pos, units, n_mcus, ss, se, ah, al, restart_interval):
    """Decode one scan's entropy-coded data, from ``pos``, into the
    coefficient buffers. Returns the position of the marker that ends
    the data, or None for a corrupt stream. ``units`` holds (blocks,
    data units per MCU, DC LUT, AC LUT) per scan component; a block
    buffer grows on first touch. The data is unstuffed and split at
    its RSTn markers once, then read with the 16-bit-peek LUTs of
    ``_jpeg_huff_lut``. Each block runs the T.81 Annex G routines its
    band selects: DC first or refinement when ``ss`` is 0, AC first
    (with EOBn runs) or refinement over max(ss, 1)..se. A sequential
    scan is DC first + AC first over 1..63 at Al=0, its EOB the r=0
    EOB run."""
    segments: list[bytes] = []
    rst: list[int] = []  # sequence number of the RSTn after each segment
    cur = bytearray()
    while True:
        j = data.find(b"\xff", pos)
        if j < 0:
            cur += data[pos:]
            pos = len(data)
            break
        cur += data[pos:j]
        nxt = data[j + 1] if j + 1 < len(data) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            rst.append(nxt - 0xD0)
            cur = bytearray()
        else:
            pos = j  # EOI, the next segment, or a lone final 0xFF
            break
        pos = j + 2
    segments.append(bytes(cur))

    seg = segments[0]
    slen = len(seg)
    buf = nbuf = bpos = 0

    def sym(lut: tuple[int, ...]) -> int | None:
        nonlocal buf, nbuf, bpos
        while nbuf < 16 and bpos < slen:
            buf = ((buf & ((1 << nbuf) - 1)) << 8) | seg[bpos]
            bpos += 1
            nbuf += 8
        key = ((buf << (16 - nbuf)) if nbuf < 16 else (buf >> (nbuf - 16))) & 0xFFFF
        e = lut[key]
        ln = e & 31
        if ln == 0 or ln > nbuf:
            return None  # invalid code or stream exhausted
        nbuf -= ln
        return e >> 5

    def bits(s: int) -> int | None:
        nonlocal buf, nbuf, bpos
        while nbuf < s and bpos < slen:
            buf = ((buf & ((1 << nbuf) - 1)) << 8) | seg[bpos]
            bpos += 1
            nbuf += 8
        if nbuf < s:
            return None
        nbuf -= s
        return (buf >> nbuf) & ((1 << s) - 1)

    def receive(s: int) -> int | None:
        """s bits as a signed magnitude (T.81 F.2.2.1 RECEIVE + EXTEND)."""
        v = bits(s)
        if v is not None and s and v < (1 << (s - 1)):
            v -= (1 << s) - 1
        return v

    p1, n1 = 1 << al, -1 << al

    def correct(zz: list[int], k: int) -> bool:
        """The refinement bit of an already-nonzero coefficient."""
        b = bits(1)
        if b is None:
            return False
        if b and not zz[k] & p1:
            zz[k] += p1 if zz[k] >= 0 else n1
        return True

    preds = [0] * len(units)
    eobrun = n_rst = 0
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            # the pre-scan already split at the byte-aligned RSTn (pad
            # bits fall off with the old segment): check its modulo-8
            # number, reset the DC predictors and the EOB run
            if n_rst >= len(rst) or rst[n_rst] != n_rst % 8:
                return None
            n_rst += 1
            seg = segments[n_rst]
            slen = len(seg)
            buf = nbuf = bpos = 0
            preds = [0] * len(units)
            eobrun = 0
        for c, (blocks, per_mcu, dc_lut, ac_lut) in enumerate(units):
            for i in range(mcu * per_mcu, mcu * per_mcu + per_mcu):
                if i == len(blocks):
                    blocks.append([0] * 64)
                zz = blocks[i]
                if ss == 0:
                    if ah == 0:  # DC first: DPCM difference, scaled by 2^al
                        s = sym(dc_lut)
                        if s is None or s > 11:
                            return None
                        d = receive(s)
                        if d is None:
                            return None
                        preds[c] += d
                        zz[0] = preds[c] << al
                    else:  # DC refinement: one raw bit
                        b = bits(1)
                        if b is None:
                            return None
                        if b:
                            zz[0] |= p1
                if se == 0:
                    continue
                k = ss or 1
                if ah == 0:  # AC first
                    if eobrun:
                        eobrun -= 1
                        continue
                    while k <= se:
                        rs = sym(ac_lut)
                        if rs is None:
                            return None
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r != 15:  # EOBn: this block and the next 2^r - 1 + bits end
                                e = bits(r)
                                if e is None:
                                    return None
                                eobrun = (1 << r) - 1 + e
                                break
                            k += 16  # ZRL
                            continue
                        k += r
                        if k > se:
                            return None
                        v = receive(s)
                        if v is None:
                            return None
                        zz[k] = v << al
                        k += 1
                    continue
                # AC refinement (T.81 G.1.2.3 / libjpeg structure): every
                # nonzero-history coefficient passed takes a correction bit
                if eobrun == 0:
                    while k <= se:
                        rs = sym(ac_lut)
                        if rs is None:
                            return None
                        r, s = rs >> 4, rs & 0xF
                        val = 0
                        if s == 0:
                            if r != 15:
                                e = bits(r)
                                if e is None:
                                    return None
                                eobrun = (1 << r) + e
                                break
                            # r == 15: skip 16 zero-history coefficients
                        elif s != 1:
                            return None
                        else:
                            b = bits(1)
                            if b is None:
                                return None
                            val = p1 if b else n1
                        while k <= se:
                            if zz[k]:
                                if not correct(zz, k):
                                    return None
                            elif r == 0:
                                break
                            else:
                                r -= 1
                            k += 1
                        if s and k <= se:
                            zz[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if zz[k] and not correct(zz, k):
                            return None
                        k += 1
                    eobrun -= 1
    return pos


def _jpeg_decode(data: bytes, sof: int, ncomps: tuple[int, ...], dri: bool, one_scan: bool):
    """The JPEG decode core (ITU T.81): one segment walk over
    DQT/DHT/SOFn/DRI/SOS, one entropy reader per scan (``_jpeg_scan``),
    one coefficient buffer per frame component, and one batched
    dequant + de-zig-zag + float IDCT finish. Frames are 8-bit with a
    component count in ``ncomps``, all sampled 1x1 or three at 4:2:0,
    and every scan names every frame component once, in frame order.

    The rules that differ between the views are arguments. ``sof`` is
    the one frame marker accepted (any other SOFn returns None); under
    SOF2 each scan reads its spectral band and successive-approximation
    bits from the SOS, otherwise it codes the full band at full
    precision. ``dri`` says whether restart intervals are accepted.
    ``one_scan`` says whether the frame is exactly one scan, after which
    the walk stops, rather than scans until EOI. Returns (width,
    height, [plane per component]) with each plane a cropped int64
    array of level-shifted clamped samples (chroma replicated to full
    size), or None outside the supported geometry or on a corrupt
    stream. A frame that carries no scan, or whose first AC scan comes
    before its DC-first scan, is corrupt: it has no coefficient data, and
    sizing planes from the SOF alone would let a file of a few hundred
    bytes allocate a 65535x65535 plane."""
    if len(data) < 4 or data[:2] != b"\xff\xd8":
        return None
    qtables: dict[int, list[int]] = {}
    hufftabs: dict[tuple[int, int], tuple[int, ...]] = {}  # (tc, th) -> 16-bit-peek LUT
    comps: list[tuple[int, int, int, int]] = []  # (id, h, v, quant table id), frame order
    coefs: list[list[list[int]]] = []  # per component: zig-zag blocks in MCU order
    width = height = hmax = vmax = mcux = mcuy = 0
    restart_interval = 0  # DRI: MCUs between RSTn markers (0 = none)
    scans = 0
    dc_first = False  # has a DC-first scan run (every scan names every component)
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            return None
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if pos + 4 > len(data):
            return None
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            return None
        if marker == 0xDB:
            if not _jpeg_read_dqt(body, qtables):
                return None
        elif marker == 0xC4:
            if not _jpeg_read_dht(body, hufftabs):
                return None
        elif marker == sof:
            nf = body[5] if len(body) >= 6 else 0
            if nf not in ncomps or body[0] != 8 or len(body) < 6 + 3 * nf:
                return None
            height, width = struct.unpack(">HH", body[1:5])
            comps = [
                (body[i], body[i + 1] >> 4, body[i + 1] & 0xF, body[i + 2])
                for i in range(6, 6 + 3 * nf, 3)
            ]
            hv = [(h, v) for _id, h, v, _tq in comps]
            # supported geometries: all 1x1 (grayscale / 4:4:4), or
            # luma 2x2 + chroma 1x1 (4:2:0) — the shapes real baseline
            # files use; 4:2:2 etc. stay the long tail
            if len({c[0] for c in comps}) != nf or not (
                set(hv) == {(1, 1)} or hv == [(2, 2), (1, 1), (1, 1)]
            ):
                return None
            hmax, vmax = max(h for h, _v in hv), max(v for _h, v in hv)
            mcux = (width + 8 * hmax - 1) // (8 * hmax)
            mcuy = (height + 8 * vmax - 1) // (8 * vmax)
            coefs = [[] for _ in comps]
        elif marker in _JPEG_SOF:
            return None
        elif marker == 0xDD:
            if not dri or len(body) < 2:
                return None
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:
            ns = body[0] if body else 0
            if (
                not comps
                or ns != len(comps)
                or len(body) < 4 + 2 * ns
                or list(body[1 : 1 + 2 * ns : 2]) != [c[0] for c in comps]
            ):
                return None
            if sof == 0xC2:  # progressive: the scan's band and bit position
                ss, se, ahal = body[1 + 2 * ns : 4 + 2 * ns]
                if ss > se or se > 63 or (ss == 0 and se != 0):
                    return None
            else:  # sequential: the full band at full precision
                ss, se, ahal = 0, 63, 0
            ah, al = ahal >> 4, ahal & 0xF
            if ss and not dc_first:
                return None  # "AC without prior DC scan", as libjpeg names it
            units = []
            for c, (_id, h, v, _tq) in enumerate(comps):
                tda = body[2 + 2 * c]
                dc_lut, ac_lut = hufftabs.get((0, tda >> 4)), hufftabs.get((1, tda & 0xF))
                if (ss == 0 and ah == 0 and dc_lut is None) or (se and ac_lut is None):
                    return None
                units.append((coefs[c], h * v, dc_lut, ac_lut))
            pos = _jpeg_scan(
                data, pos + 2 + seglen, units, mcux * mcuy, ss, se, ah, al, restart_interval
            )
            if pos is None:
                return None
            dc_first = dc_first or (ss == 0 and ah == 0)
            scans += 1
            if one_scan:
                break
            continue
        pos += 2 + seglen
    if (
        not comps
        or not width
        or not height
        or not scans
        or any(tq not in qtables for *_c, tq in comps)
    ):
        return None
    out = []
    for (_id, h, v, tq), blocks in zip(comps, coefs):
        blocks.extend([0] * 64 for _ in range(mcux * mcuy * h * v - len(blocks)))
        arr = np.asarray(blocks, dtype=np.float64) * np.asarray(qtables[tq], dtype=np.float64)
        flat = np.zeros_like(arr)
        flat[:, _JPEG_ZIGZAG_INDEX] = arr
        pix = _JPEG_DCT.T @ flat.reshape(-1, 8, 8) @ _JPEG_DCT  # batched IDCT
        pix = np.clip(np.rint(pix + 128.0), 0, 255).astype(np.int64)
        # blocks are in MCU order: (my, mx, vr, hr) — reassemble
        plane = pix.reshape(mcuy, mcux, v, h, 8, 8).transpose(0, 2, 4, 1, 3, 5)
        plane = plane.reshape(mcuy * v * 8, mcux * h * 8)
        if (h, v) != (hmax, vmax):  # replication upsample to full res
            plane = np.repeat(np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1)
        out.append(plane[:height, :width])
    return (width, height, out)


def _decode_jpeg_planes(data: bytes):
    """The sequential (SOF0) view of the decode core (``_jpeg_decode``):
    one interleaved scan of 1 or 3 components (grayscale, 4:4:4, 4:2:0),
    restart intervals accepted, anything after the scan's entropy data
    ignored. Returns (width, height, [plane, ...]) in frame component
    order, or None outside the supported geometry (progressive,
    4:2:2, 16-bit tables)."""
    return _jpeg_decode(data, 0xC0, (1, 3), dri=True, one_scan=True)


def decode_jpeg_pixels(data: bytes) -> tuple[int, int, list[list[int]]] | None:
    """Pure numpy/stdlib FULL decode of a baseline GRAYSCALE JPEG via
    the shared core (``_decode_jpeg_planes``): Huffman entropy decode
    (DC DPCM magnitude-extend, AC run/size with EOB and ZRL, 0xFF00
    unstuffing), dequantization, de-zig-zag, float IDCT, level shift,
    clamp, crop. Returns (width, height, rows) of luma ints, or None
    outside the supported geometry. This retires the 'JPEG DCT decode'
    entry of the entropy-coded gap list with the spec's own
    arithmetic."""
    decoded = _decode_jpeg_planes(data)
    if decoded is None or len(decoded[2]) != 1:
        return None
    width, height, (plane,) = decoded
    return (width, height, plane.tolist())


def jpeg_color_payload(i: int) -> bytes:
    """A COMPLETE valid baseline 4:4:4 COLOR JPEG, closed-form in the
    id: width = id%20+1, height = id*3%18+1, and the 8x8 block at
    (bx, by) is the constant color R=(id+5bx+11by)%256,
    G=(id*3+7bx+by)%256, B=(id*7+bx+13by)%256. With DC quantization
    step 8 in both tables, constant blocks reconstruct their YCbCr
    values exactly, so the decoded RGB equals the exact fixed-point
    roundtrip _fx_ycbcr_to_rgb(_fx_rgb_to_ycbcr) — deterministic
    integer arithmetic an oracle can replay."""
    w, h = i % 20 + 1, i * 3 % 18 + 1
    return _encode_jpeg_color_planes(w, h, *_closed_form_color_planes(i, w, h, 8, False), False)


def _closed_form_color_planes(i: int, w: int, h: int, tile: int, sub: bool):
    """Vectorized builder for the catalog's closed-form color fixtures:
    constant color R=(i+5t_x+11t_y)%256, G=(i*3+7t_x+t_y)%256,
    B=(i*7+t_x+13t_y)%256 per ``tile``-pixel tile, edge-replication
    padded to the MCU alignment and converted with the exact
    fixed-point RGB->YCbCr — all numpy broadcasting, no per-pixel
    Python (the sf0.1 synth walks 60k docs x up to 1024 padded pixels).
    Returns (Y, Cb, Cr) int64 planes."""
    align = 16 if sub else 8
    pw = (w + align - 1) // align * align
    ph = (h + align - 1) // align * align
    tx = (np.minimum(np.arange(pw), w - 1) // tile)[None, :]
    ty = (np.minimum(np.arange(ph), h - 1) // tile)[:, None]
    r = (i + 5 * tx + 11 * ty) % 256
    g = (i * 3 + 7 * tx + ty) % 256
    b = (i * 7 + tx + 13 * ty) % 256
    yv = np.clip((19595 * r + 38470 * g + 7471 * b + 32768) >> 16, 0, 255)
    cb = np.clip(((-11059 * r - 21709 * g + 32768 * b + 32768) >> 16) + 128, 0, 255)
    cr = np.clip(((32768 * r - 27439 * g - 5329 * b + 32768) >> 16) + 128, 0, 255)
    return yv, cb, cr


def jpeg420_payload(i: int) -> bytes:
    """A COMPLETE valid baseline 4:2:0 COLOR JPEG, closed-form in the
    id: width = id%24+1, height = id*3%20+1, and the 16x16 MCU tile at
    (tx, ty) is the constant color R=(id+5tx+11ty)%256,
    G=(id*3+7tx+ty)%256, B=(id*7+tx+13ty)%256. Constant 16x16 tiles
    survive the half-up 2x2 chroma box average, DC-step-8 quantization,
    and replication upsample EXACTLY, so the decoded RGB equals the
    fixed-point YCbCr roundtrip — the same oracle contract as the 4:4:4
    tier, now through the subsampled MCU layout real-world JPEGs use."""
    w, h = i % 24 + 1, i * 3 % 20 + 1
    return _encode_jpeg_color_planes(w, h, *_closed_form_color_planes(i, w, h, 16, True), True)


def jpeg_color_pixel_stats(payload: bytes) -> tuple | None:
    """PIXEL_STATS_SCHEMA stats over a fully-decoded baseline COLOR JPEG
    payload — interleaved-MCU Huffman decode, two quantization tables,
    IDCT, fixed-point YCbCr->RGB, channel sums."""
    decoded = decode_jpeg_color_arrays(payload)
    if decoded is None:
        return None
    w, h, (r, g, b) = decoded
    return (w, h, w * h, int(r.sum()), int(g.sum()), int(b.sum()))


LUMA_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("sum_luma", T.LongType()),
        T.StructField("min_luma", T.IntegerType()),
        T.StructField("max_luma", T.IntegerType()),
    ]
)


def jpeg_payload(i: int) -> bytes:
    """A COMPLETE valid baseline grayscale JPEG, closed-form in the id:
    width = id%20+1, height = id*3%18+1, and the
    8x8 block at (bx, by) is the CONSTANT even value
    2*((id + 3*bx + 7*by) % 128). Per-block-constant even-valued images
    quantize to DC-only coefficients with zero rounding loss (q00 = 16,
    DC = 8*(v-128) with v-128 even), so the lossy pipeline reconstructs
    them bit-exactly — which is what makes the decoded output
    oracle-recomputable while the decoder stays a general baseline
    JPEG decoder. DC DPCM still varies across blocks, so the Huffman
    stream is non-trivial. Every fourth file carries DRI/RSTn restart
    markers (interval 2 MCUs): decoded pixels are identical
    by construction, so the SAME oracle hash now also gates the
    restart-marker path (byte-aligned resync, DC predictor resets, the
    modulo-8 marker sequence)."""
    return make_jpeg_image(
        i % 20 + 1,
        i * 3 % 18 + 1,
        lambda x, y: 2 * ((i + 3 * (x // 8) + 7 * (y // 8)) % 128),
        restart_interval=2 if i % 4 == 0 else 0,
    )


def jpeg_luma_stats(payload: bytes) -> tuple | None:
    """LUMA_STATS_SCHEMA stats over a fully-decoded baseline JPEG
    payload: Huffman entropy decode + dequant + IDCT, fixed-width luma
    statistics out."""
    return _luma_stats(_decode_jpeg_planes(payload))


def make_jpeg_progressive(width, height, pixel) -> bytes:
    """A complete, VALID PROGRESSIVE grayscale JPEG (ITU T.81 Annex G,
    SOF2): the same quantized coefficients as ``make_jpeg_image``, but
    delivered across FOUR spectral-selection / successive-approximation
    scans — (1) DC first at Al=1 (arithmetic-shifted DPCM), (2) DC
    refinement raw bits, (3) AC band 1..63 first at Al=1 with real EOBn
    end-of-band RUN codes spanning blocks, (4) AC refinement at Al=0
    with the correction-bit protocol (buffered BE bits attached to the
    pending EOB run, exactly libjpeg's encoder discipline). Completing
    all scans to Al=0 reconstructs the quantized coefficients EXACTLY,
    so progressive decode is bit-identical to baseline decode of the
    same image — the property the equivalence pytest and the closed-form
    oracle both key on. ``pixel(x, y) -> luma 0..255``."""
    plane = _jpeg_gray_plane(width, height, pixel)
    blocks = _jpeg_block_codes(plane, _JPEG_QTABLE).reshape(-1, 64).tolist()
    w = _JpegBitWriter()
    ac_huff = _JPEG_FLAT_HUFF
    eobrun = 0
    pending: list[int] = []  # refinement correction bits that ride with the EOB run

    def flush_eobrun() -> None:
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            w.put(*ac_huff[r << 4])
            if r:
                w.put(eobrun - (1 << r), r)
            eobrun = 0
        for b in pending:
            w.put(b, 1)
        pending.clear()

    # ---- scan 1: DC first, Ah=0, Al=1 (arithmetic shift, floor) ----
    prev = 0
    for zz in blocks:
        w.put_coef(_JPEG_DC_HUFF, 0, (zz[0] >> 1) - prev)
        prev = zz[0] >> 1
    scan1 = w.flush()

    # ---- scan 2: DC refinement, Ah=1, Al=0 (one raw bit per block) ----
    for zz in blocks:
        w.put(zz[0] & 1, 1)
    scan2 = w.flush()

    # ---- scan 3: AC first, Ss=1 Se=63, Ah=0, Al=1 ----
    for zz in blocks:
        run = 0
        for t in zz[1:]:
            mag = abs(t) >> 1  # point transform toward zero
            if mag == 0:
                run += 1
                continue
            flush_eobrun()
            while run > 15:
                w.put(*ac_huff[0xF0])
                run -= 16
            w.put_coef(ac_huff, run, mag if t >= 0 else -mag)
            run = 0
        if run:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()
    scan3 = w.flush()

    # ---- scan 4: AC refinement, Ss=1 Se=63, Ah=1, Al=0 ----
    for zz in blocks:
        absv = [abs(t) for t in zz]
        eob = max((k for k in range(1, 64) if absv[k] == 1), default=0)
        run = 0
        br: list[int] = []
        for k in range(1, 64):
            t = absv[k]
            if t == 0:
                run += 1
                continue
            while run > 15 and k <= eob:
                flush_eobrun()
                w.put(*ac_huff[0xF0])
                run -= 16
                for b in br:
                    w.put(b, 1)
                br = []
            if t > 1:
                br.append(t & 1)  # already significant: correction bit
                continue
            flush_eobrun()
            w.put(*ac_huff[(run << 4) | 1])
            w.put(1 if zz[k] >= 0 else 0, 1)  # sign of the new ±1
            for b in br:
                w.put(b, 1)
            br = []
            run = 0
        if run > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == 0x7FFF:
                flush_eobrun()
    flush_eobrun()
    scan4 = w.flush()

    return (
        _jpeg_header(
            0xFFC2, width, height, [_JPEG_QTABLE], [(1, 0)], _JPEG_DHT_DC, band=(0, 0, 0, 1)
        )
        + scan1
        + _jpeg_sos(1, 0, 0, 1, 0) + scan2
        + _jpeg_segment(0xFFC4, _JPEG_DHT_FLAT)  # table arrives BETWEEN scans, as real encoders do
        + _jpeg_sos(1, 1, 63, 0, 1) + scan3
        + _jpeg_sos(1, 1, 63, 1, 0) + scan4
        + b"\xff\xd9"
    )


def decode_jpeg_progressive(data: bytes):
    """Pure numpy/stdlib FULL decode of a PROGRESSIVE (SOF2) grayscale
    JPEG per ITU T.81 Annex G — the progressive view of the decode core
    (``_jpeg_decode``): multi-scan segment walk until EOI (DHT tables
    may arrive between scans), spectral selection, successive
    approximation — DC first scans at any Al (coefficient = accumulated
    DPCM << Al), DC refinement bits, AC first scans with EOBn
    end-of-band runs spanning blocks, and AC refinement scans with the
    correction-bit protocol (every nonzero-history coefficient in an
    EOB-run block still consumes its correction bit — the part naive
    decoders skip). Returns (width, height, [plane]) with the same
    contract as ``_decode_jpeg_planes``, or None outside the supported
    geometry (single component, 8-bit, no restart intervals)."""
    return _jpeg_decode(data, 0xC2, (1,), dri=False, one_scan=False)


def jpeg_progressive_payload(i: int) -> bytes:
    """A COMPLETE valid PROGRESSIVE (SOF2) grayscale JPEG, closed-form
    in the id: width = id%19+1, height = (id*5)%17+1, and the 8x8 block
    at (bx, by) is the CONSTANT even value 2*((id + 5*bx + 11*by) % 128)
    — the same DC-only zero-loss construction as the baseline luma
    tier, so the four-scan successive-approximation pipeline
    reconstructs bit-exactly and the oracle can recompute the stats
    without seeing a byte. The AC band scans are pure EOBn runs over
    many blocks, exercising the run accounting."""
    return make_jpeg_progressive(
        i % 19 + 1,
        i * 5 % 17 + 1,
        lambda x, y: 2 * ((i + 5 * (x // 8) + 11 * (y // 8)) % 128),
    )


def jpeg_progressive_stats(payload: bytes) -> tuple | None:
    """LUMA_STATS_SCHEMA stats over a fully-decoded PROGRESSIVE JPEG
    payload (decode_jpeg_progressive)."""
    return _luma_stats(decode_jpeg_progressive(payload))


def adpcm_payload(i: int) -> bytes:
    """A COMPLETE IMA ADPCM WAV file compressing the SAME closed-form
    source signal as the PCM tier (rate = RATES[id % 4], samples
    ``_pcm_source(id)``), so the lossy encode→decode recurrence is
    fully determined by the id — which is what lets the oracle replay
    it."""
    return make_wav_ima_adpcm(_SYNTH_RATES[i % 4], _pcm_source(i))


def adpcm_sample_stats(payload: bytes) -> tuple | None:
    """AUDIO_SAMPLE_SCHEMA stats over a fully-decoded IMA ADPCM payload
    — the lossy-codec twin of audio_sample_stats: RIFF walk,
    block-header parse, nibble decompression, amplitude reduction."""
    decoded = decode_wav_ima_adpcm(payload)
    if decoded is None:
        return None
    rate, samples = decoded
    # nibble decompression is predictor-recursive (cannot vectorize),
    # but the reductions are one numpy pass
    return (rate, *_amp_stats(np.asarray(samples, dtype=np.int64)))


def resized_pixel_stats(payload: bytes, dst_w: int, dst_h: int) -> tuple | None:
    """PIXEL_STATS_SCHEMA stats over a payload decoded AND resampled to
    (dst_w, dst_h) — the thumbnail/normalize stage of an image training
    pipeline: decode (``decode_image_pixels`` — BMP/PNG/GIF/TIFF and
    baseline/progressive JPEG), exact fixed-point bilinear resize
    (``resize_pixels``), channel sums. The reported width/height are
    the DESTINATION dims, so downstream consumers see the normalized
    geometry."""
    decoded = decode_image_pixels(payload)
    if decoded is None:
        return None
    resized = resize_pixels(decoded[2], dst_w, dst_h)
    return _rgb_stats((dst_w, dst_h, resized))


def _packbits_encode(data: bytes) -> bytes:
    """Apple PackBits RLE (TIFF compression 32773): runs of >=3 equal
    bytes become (257-n, byte); literals are chunked at 128."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            nxt = 1
            while i + nxt < n and nxt < 3 and data[i + nxt] == data[i]:
                nxt += 1
            if nxt >= 3:
                break
            i += 1
        out.append(i - lit_start - 1)
        out += data[lit_start:i]
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes | None:
    """Inverse of ``_packbits_encode``; None on truncation/overrun."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n == 128:  # noop per spec
            continue
        if n < 128:
            if i + n + 1 > len(data):
                return None
            out += data[i : i + n + 1]
            i += n + 1
        else:
            if i >= len(data):
                return None
            out += bytes((data[i],)) * (257 - n)
            i += 1
    return bytes(out) if len(out) == expected else None


def make_tiff_image(
    width, height, pixel, big_endian: bool = False, packbits: bool = False,
    rows_per_strip: int = 4,
) -> bytes:
    """A complete, VALID baseline TIFF 6.0 file: byte-order header
    (II little / MM big endian), one IFD with the required RGB tags
    (width/length, BitsPerSample [8,8,8] via offset, compression 1 or
    PackBits 32773, photometric RGB, strip offsets/bytecounts), pixel
    data split into multiple strips of ``rows_per_strip`` rows. SHORT
    values ≤4 bytes are packed INLINE in the IFD entry per spec §2 —
    the classic TIFF subtlety a decoder must get right."""

    e = ">" if big_endian else "<"
    strips = []
    for y0 in range(0, height, rows_per_strip):
        raw = bytearray()
        for y in range(y0, min(y0 + rows_per_strip, height)):
            for x in range(width):
                r, g, b = pixel(x, y)
                raw += bytes((r & 0xFF, g & 0xFF, b & 0xFF))
        strips.append(_packbits_encode(bytes(raw)) if packbits else bytes(raw))

    n_entries = 9
    header = struct.pack(f"{e}2sHI", b"MM" if big_endian else b"II", 42, 8)
    ifd_size = 2 + n_entries * 12 + 4
    # layout: header(8) | IFD | bits-per-sample array | strip offset/count arrays | strips
    bps_off = 8 + ifd_size
    so_off = bps_off + 6
    sc_off = so_off + 4 * len(strips)
    data_off = sc_off + 4 * len(strips)
    offsets = []
    pos = data_off
    for sdata in strips:
        offsets.append(pos)
        pos += len(sdata)

    def entry(tag, ttype, count, value, inline_fmt=None):
        # SHORT(3)=2 bytes, LONG(4)=4 bytes; inline when total <= 4
        raw = struct.pack(f"{e}HHI", tag, ttype, count)
        if inline_fmt is not None:
            v = struct.pack(f"{e}{inline_fmt}", *value)
            return raw + v + b"\x00" * (4 - len(v))
        return raw + struct.pack(f"{e}I", value)

    entries = b"".join(
        [
            entry(256, 3, 1, (width,), "H"),       # ImageWidth, inline SHORT
            entry(257, 3, 1, (height,), "H"),      # ImageLength
            entry(258, 3, 3, bps_off),             # BitsPerSample -> offset
            entry(259, 3, 1, (32773 if packbits else 1,), "H"),  # Compression
            entry(262, 3, 1, (2,), "H"),           # Photometric = RGB
            entry(273, 4, len(strips), so_off if len(strips) > 1 else offsets[0]),
            entry(277, 3, 1, (3,), "H"),           # SamplesPerPixel
            entry(278, 3, 1, (rows_per_strip,), "H"),
            entry(279, 4, len(strips), sc_off if len(strips) > 1 else len(strips[0])),
        ]
    )
    ifd = struct.pack(f"{e}H", n_entries) + entries + struct.pack(f"{e}I", 0)
    body = bytearray(header + ifd)
    body += struct.pack(f"{e}3H", 8, 8, 8)
    body += b"".join(struct.pack(f"{e}I", o) for o in offsets)
    body += b"".join(struct.pack(f"{e}I", len(sd)) for sd in strips)
    for sdata in strips:
        body += sdata
    return bytes(body)


def decode_tiff_pixels(data: bytes) -> tuple[int, int, list[list[tuple[int, int, int]]]] | None:
    """Pure-stdlib FULL pixel decode of a baseline RGB TIFF: byte-order
    header (II/MM — the format's defining subtlety), IFD walk with the
    spec's inline-vs-offset value rule (counts whose payload fits 4
    bytes live INSIDE the entry), multi-strip assembly, and PackBits
    (compression 32773) RLE decompression. Returns (width, height,
    rows) of (r, g, b) tuples or None outside the supported geometry
    (8-bit RGB chunky, compression 1/32773)."""

    if len(data) < 8:
        return None
    if data[:2] == b"II":
        e = "<"
    elif data[:2] == b"MM":
        e = ">"
    else:
        return None
    magic, ifd_off = struct.unpack_from(f"{e}HI", data, 2)
    if magic != 42 or ifd_off + 2 > len(data):
        return None
    (n_entries,) = struct.unpack_from(f"{e}H", data, ifd_off)
    if ifd_off + 2 + n_entries * 12 > len(data):
        return None
    tags: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n_entries):
        off = ifd_off + 2 + i * 12
        tag, ttype, count = struct.unpack_from(f"{e}HHI", data, off)
        tags[tag] = (ttype, count, data[off + 8 : off + 12])

    type_size = {1: 1, 3: 2, 4: 4}

    def values(tag: int) -> list[int] | None:
        if tag not in tags:
            return None
        ttype, count, inline = tags[tag]
        if ttype not in type_size or count == 0 or count > 1_000_000:
            return None
        size = type_size[ttype] * count
        if size <= 4:
            buf = inline[:size]
        else:
            (voff,) = struct.unpack(f"{e}I", inline)
            if voff + size > len(data):
                return None
            buf = data[voff : voff + size]
        fmt = {1: "B", 3: "H", 4: "I"}[ttype]
        return list(struct.unpack(f"{e}{count}{fmt}", buf))

    width = values(256)
    height = values(257)
    comp = values(259) or [1]
    photo = values(262)
    spp = values(277) or [1]
    bps = values(258) or [1]
    rps = values(278) or [2**32 - 1]
    offs = values(273)
    counts = values(279)
    if not width or not height or not offs or not counts:
        return None
    w, h = width[0], height[0]
    if (
        w == 0 or h == 0 or spp[0] != 3 or bps != [8, 8, 8]
        or (photo or [2])[0] != 2 or comp[0] not in (1, 32773)
        or len(offs) != len(counts)
    ):
        return None
    rows_per_strip = min(rps[0], h)
    if rows_per_strip == 0:
        return None
    expected_strips = (h + rows_per_strip - 1) // rows_per_strip
    if len(offs) != expected_strips:
        return None
    raw = bytearray()
    for si, (o, c) in enumerate(zip(offs, counts)):
        if o + c > len(data):
            return None
        strip = data[o : o + c]
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        want = n_rows * w * 3
        if comp[0] == 32773:
            dec = _packbits_decode(strip, want)
            if dec is None:
                return None
            raw += dec
        else:
            if len(strip) != want:
                return None
            raw += strip
    if len(raw) != w * h * 3:
        return None
    return (
        w,
        h,
        [
            [tuple(raw[(y * w + x) * 3 : (y * w + x) * 3 + 3]) for x in range(w)]
            for y in range(h)
        ],
    )


def tiff_payload(i: int) -> bytes:
    """A COMPLETE valid TIFF file, closed-form in the id: width =
    id%13+1, height = (id*7)%11+1, pixel(x, y) =
    ((id + 7x) % 256, (id*3 + 5y) % 256, (id + 2x + 3y) % 256);
    byte order alternates by id (even II, odd MM) and every third file
    is PackBits-compressed — one relation exercising both endiannesses
    AND the RLE codec."""
    return make_tiff_image(
        i % 13 + 1,
        i * 7 % 11 + 1,
        lambda x, y: ((i + 7 * x) % 256, (i * 3 + 5 * y) % 256, (i + 2 * x + 3 * y) % 256),
        big_endian=bool(i % 2),
        packbits=(i % 3 == 0),
    )


def tiff_pixel_stats(payload: bytes) -> tuple | None:
    """PIXEL_STATS_SCHEMA stats over a fully-decoded TIFF payload —
    IFD walk + strip assembly + PackBits."""
    return _rgb_stats(decode_tiff_pixels(payload))


def make_avi_mjpeg(width: int, height: int, frames: list[bytes], fps: int = 25) -> bytes:
    """A complete, VALID AVI container (RIFF 'AVI ') carrying an MJPEG
    video stream: LIST hdrl with a real 56-byte avih main header and a
    LIST strl ('vids'/'MJPG' strh + BITMAPINFOHEADER strf with
    biCompression 'MJPG'), then LIST movi with one '00dc' chunk per
    frame (word-aligned, per the RIFF padding rule), each chunk a
    complete baseline JPEG. This is the container real MJPEG AVIs use —
    frame extraction = chunk walk + the JPEG tier's codec."""

    avih = struct.pack(
        "<IIIIIIIIII16x",
        1_000_000 // fps,  # microseconds per frame
        0, 0, 0x10,        # max bytes/sec, padding, flags (HASINDEX off, interleaved)
        len(frames), 0, 1, 0,
        width, height,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIii4H",
        b"vids", b"MJPG",
        0, 0, 0, 0,
        1, fps,            # scale, rate -> fps
        0, len(frames), 0, -1, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )
    strl = _riff_chunk(b"LIST", b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf))
    hdrl = _riff_chunk(b"LIST", b"hdrl" + _riff_chunk(b"avih", avih) + strl)
    movi = _riff_chunk(b"LIST", b"movi" + b"".join(_riff_chunk(b"00dc", f) for f in frames))
    return _riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def decode_avi_mjpeg(data: bytes) -> tuple[int, int, list] | None:
    """Pure numpy/stdlib FULL decode of an MJPEG AVI: RIFF walk
    ('AVI ' form, LIST hdrl → avih dims + 'vids'/'MJPG' stream headers,
    LIST movi → '00dc' frame chunks with word-alignment padding), then
    each frame through the baseline JPEG core
    (``_decode_jpeg_planes``). Returns (width, height, [luma plane per
    frame]) or None outside the supported geometry (non-MJPG streams,
    missing headers, frame/header dimension mismatch). Video decode is
    exactly container walk + per-frame image codec — both already
    public-spec tiers of this module."""

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        return None

    def walk(buf: bytes):  # a truncated last chunk ends the list unread
        return ((cid, body) for cid, size, body in _riff_chunks(buf) if len(body) == size)

    width = height = None
    is_mjpg = False
    frames: list[bytes] = []
    for cid, body in walk(data[12 : 8 + struct.unpack("<I", data[4:8])[0]]):
        if cid != b"LIST":
            continue
        ltype, payload = body[:4], body[4:]
        if ltype == b"hdrl":
            for cid2, body2 in walk(payload):
                if cid2 == b"avih" and len(body2) >= 40:
                    width, height = struct.unpack("<II", body2[32:40])
                elif cid2 == b"LIST" and body2[:4] == b"strl":
                    for cid3, body3 in walk(body2[4:]):
                        if cid3 == b"strh" and len(body3) >= 8:
                            if body3[:4] == b"vids" and body3[4:8] == b"MJPG":
                                is_mjpg = True
                        elif cid3 == b"strf" and len(body3) >= 20:
                            if body3[16:20] != b"MJPG":
                                return None
        elif ltype == b"movi":
            for cid2, body2 in walk(payload):
                if cid2[2:] == b"dc":
                    frames.append(body2)
    if width is None or not is_mjpg or not frames:
        return None
    planes = []
    for f in frames:
        decoded = _decode_jpeg_planes(f)
        if decoded is None or len(decoded[2]) != 1 or decoded[:2] != (width, height):
            return None
        planes.append(decoded[2][0])
    return (width, height, planes)


def avi_payload(i: int) -> bytes:
    """A COMPLETE valid MJPEG AVI file, closed-form in the id: n_frames
    = id%5+1, width = id%14+1, height = (id*3)%12+1, and frame f's 8x8
    block at (bx, by) is the constant even value
    2*((id + 13*f + 3*bx + 7*by) % 128) — the zero-loss JPEG fixture
    construction, per frame, inside a real AVI container."""
    w, h = i % 14 + 1, i * 3 % 12 + 1
    frames = [
        make_jpeg_image(w, h, lambda x, y: 2 * ((i + 13 * f + 3 * (x // 8) + 7 * (y // 8)) % 128))
        for f in range(i % 5 + 1)
    ]
    return make_avi_mjpeg(w, h, frames)


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("sum_luma", T.LongType()),
        T.StructField("min_luma", T.IntegerType()),
        T.StructField("max_luma", T.IntegerType()),
    ]
)


def video_frame_stats(payload: bytes) -> list[tuple]:
    """Per-FRAME VIDEO_FRAME_SCHEMA luma stats over a fully-decoded
    MJPEG AVI payload: one input video fans out to n_frames rows inside
    mapInPandas (the keyframe-extraction relation of a video training
    pipeline — the fan-out never touches the driver), each frame decoded
    by the real container+codec walk (``decode_avi_mjpeg``). No rows for
    an undecodable payload."""
    decoded = decode_avi_mjpeg(payload)
    if decoded is None:
        return []
    w, h, planes = decoded
    return [(f, w, h, int(p.sum()), int(p.min()), int(p.max())) for f, p in enumerate(planes)]


def sample_frames(binary_df: DataFrame, frame_bytes: int = 64, every: int = 4) -> DataFrame:
    """Every-``every``-th fixed-size frame of a packed video payload.

    The frame-sampling shape of a video pipeline: one input row fans out
    to ~n_bytes/(frame_bytes·every) frame rows inside mapInPandas, so the
    fan-out never materializes on the driver and downstream operators see
    an ordinary (doc_id, frame_idx, ...) relation they can group/join.
    With a real container format the fixed-stride slicing becomes
    keyframe extraction; the distributed shape is identical.
    """

    def _frames(doc_id, payload):
        n_frames = (len(payload) + frame_bytes - 1) // frame_bytes
        if not n_frames:
            return ()
        # vectorized frame sums: pad to a frame multiple (zero pad is
        # sum-neutral), reshape, sum axis 1, stride-select
        arr = np.zeros(n_frames * frame_bytes, dtype=np.int64)
        arr[: len(payload)] = np.frombuffer(payload, dtype=np.uint8)
        sums = arr.reshape(n_frames, frame_bytes).sum(axis=1)
        last = len(payload) - (n_frames - 1) * frame_bytes
        return [
            (doc_id, idx, frame_bytes if idx < n_frames - 1 else last, int(sums[idx]))
            for idx in range(0, n_frames, every)
        ]

    return map_rows(binary_df, FRAME_SCHEMA, _frames)


def video_scene_cuts(frame_df: DataFrame, threshold_per_px: int = 16) -> DataFrame:
    """Shot-boundary detection over a decoded frame relation (the
    output shape of ``video_frame_stats``): per video, count
    frames, count scene CUTS — inter-frame luma-sum jumps exceeding
    ``threshold_per_px`` per pixel (the comparison is pure integer
    arithmetic: |sum_f - sum_{f-1}| > T*w*h, exact cross-engine) — and
    report the largest jump. Once decode has fanned media out to rows,
    temporal analysis is ordinary window SQL: a lag per video ordered
    by frame index (state = one frame sum per key, bounded by
    frames-per-video), then a per-video rollup that rides the SAME
    doc_id hash partitioning the window installed — one shuffle total
    downstream of the map-only decode."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = frame_df.select(
        "doc_id",
        "width",
        "height",
        "sum_luma",
        F.lag("sum_luma").over(w).alias("prev"),
    )
    jump = F.abs(F.col("sum_luma") - F.col("prev"))
    is_cut = F.col("prev").isNotNull() & (
        jump > F.lit(threshold_per_px) * F.col("width") * F.col("height")
    )
    return (
        d.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.when(is_cut, 1).otherwise(0)).cast("long").alias("n_cuts"),
            F.coalesce(F.max(jump), F.lit(0)).cast("long").alias("max_jump"),
        )
        .orderBy("doc_id")
    )
