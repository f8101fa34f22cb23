"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, partition sizing,
mapInPandas signatures) is real, and so is the default image codec:
:func:`real_image_decoder` contains complete numpy-only PNG (8-bit
gray/RGB/palette/alpha, all five row filters, zlib via the stdlib — a
real COMPRESSED container), BMP (8-bit paletted + 24-bit), PPM/PGM
(P5/P6), and JPEG — baseline sequential AND progressive, grayscale AND
YCbCr color (jpeg.py) — parsers with matching encoders; none needs an
external library; audio adds G.711 mu-law/A-law companded WAV
(canonical g711.c tables, vectorized). Perceptual audio/video codecs
(MP3/AAC/H.26x) still require ffmpeg,
which this container lacks; those go through the same ``decoder=``
hook with a deterministic fake for tests, and swapping in an
ffmpeg-backed callable changes nothing else.

Design for 100 TB of media:
- binary payloads stay in parquet; metadata (width/height/duration/codec)
  lives in sibling struct columns so planning predicates (e.g. width >=
  224) prune row groups WITHOUT touching bytes.
- decode/feature steps run in ``mapInPandas`` so one task streams Arrow
  record batches; batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` to cap executor memory
  (payloads of tens of MB => set it low).
- every one-row-in, one-row-out operator (image, color-image, resize,
  audio, resample, tone and patch features) has one shape: the payload
  column is dropped, the other columns pass through in order, and the
  operator's typed feature columns are appended — features, not
  samples or pixels, cross the wire. A function maps each Arrow
  batch's payloads to one tuple per row, so a block codec can decode
  the whole batch in one pass (``audio_features(batch_decoder=...)``).
  ``sample_frames`` (one row in, many out) is the exception.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("data", T.BinaryType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("data", T.BinaryType()),
        T.StructField("codec", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
    ]
)


def _map_payloads(
    df: DataFrame,
    payload_col: str,
    fields: list[tuple[str, T.DataType]],
    rows: Callable[[pd.Series], Iterable[tuple]],
) -> DataFrame:
    """The feature operators' one ``mapInPandas``: the output keeps
    every column but ``payload_col`` in order and appends ``fields`` in
    order, filled by ``rows`` — a function from one Arrow batch's
    payload column to one tuple per row."""
    keep = [f for f in df.schema.fields if f.name != payload_col]
    names = [f.name for f in keep]
    schema = T.StructType(keep + [T.StructField(n, t) for n, t in fields])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[names].copy()
            got = list(rows(pdf[payload_col]))
            for k, (name, _) in enumerate(fields):
                out[name] = [r[k] for r in got]
            yield out

    return df.mapInPandas(run, schema)


def decode_ppm(data: bytes) -> np.ndarray:
    """Parse binary PPM/PGM (magic P5 = grayscale, P6 = RGB; maxval <=
    255): header tokens separated by whitespace with ``#`` comments,
    one whitespace byte after maxval, then raw samples. Returns HxW
    uint8 (P5) or HxWx3 (P6)."""
    magic = bytes(data[:2])
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PPM/PGM payload: magic {magic!r}")
    vals, i = [], 2
    while len(vals) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":
            while i < len(data) and data[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        vals.append(int(data[i:j]))
        i = j
    w, h, maxv = vals
    if maxv > 255:
        raise NotImplementedError("16-bit PPM (maxval > 255) not supported")
    i += 1  # the single whitespace byte after maxval
    ch = 1 if magic == b"P5" else 3
    need = w * h * ch
    px = np.frombuffer(data, dtype=np.uint8, count=need, offset=i)
    return px.reshape(h, w) if ch == 1 else px.reshape(h, w, 3)


def decode_bmp(data: bytes) -> np.ndarray:
    """Parse uncompressed BMP (BITMAPINFOHEADER, 8-bit paletted or
    24-bit BGR): bottom-up or top-down rows, 4-byte row padding, BGR(A)
    palette. An 8-bit image with a pure grayscale palette returns HxW;
    anything else returns HxWx3 RGB."""
    if bytes(data[:2]) != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(data[10:14], "little")
    hdrsz = int.from_bytes(data[14:18], "little")
    if hdrsz < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs not supported")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bits = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if comp != 0:
        raise NotImplementedError(f"compressed BMP (method {comp}) not supported")
    topdown, h = h < 0, abs(h)
    row = ((w * bits // 8) + 3) & ~3
    px = np.frombuffer(data, dtype=np.uint8, count=row * h, offset=off).reshape(h, row)
    if not topdown:
        px = px[::-1]
    if bits == 8:
        nclr = int.from_bytes(data[46:50], "little") or 256
        pal = (
            np.frombuffer(data, dtype=np.uint8, count=nclr * 4, offset=14 + hdrsz)
            .reshape(nclr, 4)[:, 2::-1]  # BGRA -> RGB
        )
        idx = px[:, :w]
        if (pal[:, 0] == pal[:, 1]).all() and (pal[:, 1] == pal[:, 2]).all():
            return pal[idx][:, :, 0].copy()
        return pal[idx].copy()
    if bits == 24:
        return px[:, : w * 3].reshape(h, w, 3)[:, :, ::-1].copy()
    raise NotImplementedError(f"{bits}-bit BMP not supported")


def encode_pgm(arr: np.ndarray) -> bytes:
    """HxW uint8 -> binary PGM (P5)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 2:
        raise ValueError("encode_pgm takes a 2-D grayscale array")
    return b"P5\n%d %d\n255\n" % (a.shape[1], a.shape[0]) + a.tobytes()


def encode_ppm(arr: np.ndarray) -> bytes:
    """HxWx3 uint8 -> binary PPM (P6)."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_ppm takes an HxWx3 RGB array")
    return b"P6\n%d %d\n255\n" % (a.shape[1], a.shape[0]) + a.tobytes()


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 array -> uncompressed BMP: HxW becomes 8-bit with a
    grayscale palette, HxWx3 becomes 24-bit BGR. Bottom-up rows, 4-byte
    padding — the canonical layout every BMP reader accepts."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        h, w = a.shape
        row = (w + 3) & ~3
        pal = bytes(b for i in range(256) for b in (i, i, i, 0))
        off = 14 + 40 + len(pal)
        body = np.zeros((h, row), dtype=np.uint8)
        body[:, :w] = a[::-1]
        info = (
            (40).to_bytes(4, "little") + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + (row * h).to_bytes(4, "little")
            + bytes(8) + (256).to_bytes(4, "little") + bytes(4)
        )
    elif a.ndim == 3 and a.shape[2] == 3:
        h, w = a.shape[:2]
        row = (w * 3 + 3) & ~3
        pal = b""
        off = 14 + 40
        body = np.zeros((h, row), dtype=np.uint8)
        body[:, : w * 3] = a[::-1, :, ::-1].reshape(h, w * 3)  # RGB -> BGR
        info = (
            (40).to_bytes(4, "little") + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + (row * h).to_bytes(4, "little")
            + bytes(8) + bytes(4) + bytes(4)
        )
    else:
        raise ValueError("encode_bmp takes HxW or HxWx3 uint8")
    size = off + body.size
    header = b"BM" + size.to_bytes(4, "little") + bytes(4) + off.to_bytes(4, "little")
    return header + info + pal + body.tobytes()


# -- PNG (numpy + stdlib zlib — a real COMPRESSED container) ---------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct as _st
    import zlib as _zl

    return (
        _st.pack(">I", len(body))
        + tag
        + body
        + _st.pack(">I", _zl.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray, filter_type: int = 1) -> bytes:
    """Encode 8-bit grayscale (H,W) or RGB (H,W,3) as a real PNG:
    IHDR + zlib-deflated, per-row-filtered IDAT + IEND with CRCs.
    ``filter_type`` 0 (None) or 1 (Sub) — Sub exercises the unfilter
    path in round trips."""
    import struct as _st
    import zlib as _zl

    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        color, channels = 0, 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        color, channels = 2, 3
    else:
        raise ValueError(f"encode_png: need (H,W) or (H,W,3) uint8, got {arr.shape}")
    h, w = arr.shape[:2]
    raw = arr.reshape(h, w * channels)
    rows = []
    for y in range(h):
        if filter_type == 1:  # Sub: delta vs the pixel to the left
            line = raw[y].astype(np.int16)
            prev = np.concatenate([np.zeros(channels, np.int16), line[:-channels]])
            rows.append(b"\x01" + ((line - prev) % 256).astype(np.uint8).tobytes())
        else:
            rows.append(b"\x00" + raw[y].tobytes())
    ihdr = _st.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zl.compress(b"".join(rows)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Decode a non-interlaced 8-bit PNG (grayscale, RGB, palette,
    gray+alpha, RGBA) with full filter support (None/Sub/Up/Average/
    Paeth) — numpy + stdlib zlib only. Alpha is dropped; palette
    expands through PLTE. Returns (H,W) grayscale or (H,W,3) RGB."""
    import struct as _st
    import zlib as _zl

    if bytes(data[:8]) != _PNG_SIG:
        raise ValueError("decode_png: bad signature")
    p = 8
    idat, plte = [], None
    w = h = depth = color = interlace = None
    while p < len(data):
        if p + 8 > len(data):
            raise ValueError("decode_png: truncated chunk header")
        (ln,) = _st.unpack_from(">I", data, p)
        if p + 12 + ln > len(data):
            raise ValueError("decode_png: truncated chunk body")
        tag = bytes(data[p + 4 : p + 8])
        body = bytes(data[p + 8 : p + 8 + ln])
        # PNG's integrity story is the per-chunk CRC32 — verify it, so a
        # flipped header/palette byte fails loud instead of decoding to
        # silently wrong pixels (IDAT damage is also caught by zlib's
        # adler32, but PLTE/IHDR have only this CRC)
        (crc,) = _st.unpack_from(">I", data, p + 8 + ln)
        if _zl.crc32(data[p + 4 : p + 8 + ln]) & 0xFFFFFFFF != crc:
            raise ValueError(f"decode_png: CRC mismatch in {tag!r} chunk")
        p += 12 + ln
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError("decode_png: IHDR must be 13 bytes")
            w, h, depth, color, _comp, _filt, interlace = _st.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("decode_png: no IHDR chunk")
    if depth != 8:
        raise NotImplementedError(f"decode_png: bit depth {depth} (only 8)")
    if interlace:
        raise NotImplementedError("decode_png: interlaced PNGs unsupported")
    if color not in (0, 2, 3, 4, 6):
        raise ValueError(f"decode_png: invalid color type {color}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    stride = w * channels
    raw = _zl.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("decode_png: IDAT length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) % 256
        else:  # Sub / Average / Paeth need the running left pixel
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                elif f == 4:
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"decode_png: bad filter {f} on row {y}")
                cur[x] = (line[x] + pred) % 256
        out[y] = cur
        prev = cur.astype(np.int32)
    img = out.reshape(h, w, channels)
    if color == 3:
        if plte is None:
            raise ValueError("decode_png: palette image without PLTE")
        return plte[img[:, :, 0]]
    if color == 4:
        return img[:, :, 0]
    if color == 6:
        return img[:, :, :3]
    return img[:, :, 0] if channels == 1 else img


def synthetic_gray_payloads(ids: pd.Series) -> pd.Series:
    """Deterministic encoded test payloads (pandas-UDF worker): for id d
    a (8 + d%7) x (8 + d%9) grayscale image with pixel i =
    (d*31 + 7i) % 256, encoded as paletted BMP for odd ids and binary
    PGM for even ids. An oracle can recompute the pixel statistics from
    the formula alone, so decoding these through the REAL parsers makes
    the whole encode->decode path hash-checkable."""
    out = []
    for d in ids:
        d = int(d)
        w, h = 8 + d % 9, 8 + d % 7
        px = ((d * 31 + 7 * np.arange(w * h)) % 256).astype(np.uint8).reshape(h, w)
        if d % 3 == 0:
            out.append(encode_png(px, filter_type=d % 2))
        elif d % 2:
            out.append(encode_bmp(px))
        else:
            out.append(encode_pgm(px))
    return pd.Series(out)


def synthetic_jpeg_payloads(ids: pd.Series) -> pd.Series:
    """Deterministic REAL-JPEG test payloads (pandas-UDF worker): for id
    d a (8*(1+d%3)) x (8*(1+d%4)) grayscale image whose 8x8 block (i,j)
    is the constant (d*37 + i*16 + j*5) % 256, pushed through the real
    baseline encoder (jpeg.py). Block-constant images survive the codec
    EXACTLY (DC-only blocks, all-ones quant table), so an oracle can
    recompute every pixel statistic from the formula alone — the same
    trick synthetic_gray_payloads plays for PNG/BMP/PGM."""
    from coffea_spark.llmdata.jpeg import encode_gray_jpeg

    out = []
    for d in ids:
        d = int(d)
        bh, bw = 1 + d % 3, 1 + d % 4
        i, j = np.meshgrid(np.arange(bh), np.arange(bw), indexing="ij")
        blocks = ((d * 37 + i * 16 + j * 5) % 256).astype(np.uint8)
        img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
        out.append(encode_gray_jpeg(img))
    return pd.Series(out)


def synthetic_color_jpeg_payloads(ids: pd.Series) -> pd.Series:
    """Deterministic REAL-COLOR-JPEG test payloads (pandas-UDF worker):
    for id d a (16*(1+d%2)) x (16*(1+d%3)) RGB image whose 16x16 tile
    (i, j) is the constant color (4*((d*37+i*16+j*5)%64),
    4*((d*53+i*8+j*3)%64), 4*((d*29+i*4+j*7)%64)), pushed through the
    real 4:2:0 baseline color encoder (jpeg.py). Tile-constant images
    survive the codec exactly IN YCbCr SPACE (DC-only luma and chroma
    blocks, all-ones quant, constant 2x2 chroma means), and the
    multiples-of-4 channel values keep every YCbCr component >= 1.1e-3
    away from a .5 rounding boundary (domain-scanned), so a SQL oracle
    with half-away round() reproduces numpy's half-even round()
    bit-for-bit."""
    from coffea_spark.llmdata.jpeg import encode_color_jpeg

    return pd.Series(
        [encode_color_jpeg(_tile_rgb_image(int(d)), subsampling="4:2:0") for d in ids]
    )


def _tile_rgb_image(d: int) -> np.ndarray:
    """The shared deterministic tile-constant RGB image for id ``d`` —
    ONE generator for the sequential-color and progressive JPEG
    fixtures, whose gates share an oracle and therefore require
    byte-identical image content."""
    bh, bw = 1 + d % 2, 1 + d % 3
    i, j = np.meshgrid(np.arange(bh), np.arange(bw), indexing="ij")
    tiles = np.stack(
        [
            4 * ((d * 37 + i * 16 + j * 5) % 64),
            4 * ((d * 53 + i * 8 + j * 3) % 64),
            4 * ((d * 29 + i * 4 + j * 7) % 64),
        ],
        axis=-1,
    ).astype(np.uint8)
    return np.kron(tiles, np.ones((16, 16, 1), dtype=np.uint8))


def synthetic_progressive_jpeg_payloads(ids: pd.Series) -> pd.Series:
    """The SAME deterministic tile-constant RGB images as
    :func:`synthetic_color_jpeg_payloads`, encoded PROGRESSIVE (SOF2,
    spectral selection + successive approximation, 4:2:0): decoding
    must produce bit-identical YCbCr planes to the sequential stream —
    progressive coefficient coding is lossless — so the gate shares the
    sequential gate's oracle verbatim."""
    from coffea_spark.llmdata.jpeg import encode_progressive_jpeg

    return pd.Series(
        [encode_progressive_jpeg(_tile_rgb_image(int(d)), subsampling="4:2:0")
         for d in ids]
    )


def color_image_features(
    df: DataFrame,
    image_col: str = "image",
    decoder: Callable[[bytes], np.ndarray] | None = None,
) -> DataFrame:
    """Per-CHANNEL summary features for color images (one decode per
    image): width/height, the mean of each of the three planes and the
    pixel sum. Default decoder returns the coded YCbCr planes (the
    exactness surface — RGB conversion rounds); pass a custom decoder
    for RGB-space features."""
    if decoder is None:
        from coffea_spark.llmdata.jpeg import decode_jpeg

        def decoder(data):  # noqa: F811 — default: coded planes
            return decode_jpeg(data, color_space="ycbcr")

    def rows(payloads):
        for s in payloads:
            a = decoder(s["data"])
            yield (
                int(a.shape[1]),
                int(a.shape[0]),
                *(float(a[..., c].mean()) for c in range(3)),
                int(a.sum(dtype=np.int64)),
            )

    return _map_payloads(
        df,
        image_col,
        [
            ("img_width", T.IntegerType()),
            ("img_height", T.IntegerType()),
            ("mean_c0", T.DoubleType()),
            ("mean_c1", T.DoubleType()),
            ("mean_c2", T.DoubleType()),
            ("sum_pixels", T.LongType()),
        ],
        rows,
    )


def real_image_decoder(data: bytes) -> np.ndarray:
    """Default image decoder: full numpy-only parsers for BMP 8/24-bit,
    PPM/PGM P5/P6, non-interlaced 8-bit PNG (a real zlib-compressed
    container), and baseline-sequential JPEG — grayscale to (h, w),
    YCbCr color (4:4:4/4:2:2/4:2:0) to (h, w, 3) RGB, sequential
    (SOF0) AND progressive (SOF2) Huffman streams alike (jpeg.py;
    arithmetic coding still needs an external library and raises
    there), dispatched on magic bytes."""
    magic = bytes(data[:2])
    if magic == b"BM":
        return decode_bmp(data)
    if magic in (b"P5", b"P6"):
        return decode_ppm(data)
    if bytes(data[:8]) == _PNG_SIG:
        return decode_png(data)
    if magic == b"\xff\xd8":
        from coffea_spark.llmdata.jpeg import decode_jpeg

        return decode_jpeg(data)
    raise NotImplementedError(
        f"payload magic {magic!r}: BMP/PPM/PGM/PNG/baseline-gray-JPEG "
        "decode without external libraries; pass a PIL-backed decoder= "
        "for other formats"
    )


def fake_image_decoder(data: bytes) -> np.ndarray:
    """Deterministic stand-in decoder: interprets the payload bytes as a
    square uint8 grayscale image (content-derived, reproducible)."""
    arr = np.frombuffer(data, dtype=np.uint8)
    side = max(int(len(arr) ** 0.5), 1)
    return arr[: side * side].reshape(side, side)


def image_features(
    df: DataFrame,
    image_col: str = "image",
    decoder: Callable[[bytes], np.ndarray] = real_image_decoder,
) -> DataFrame:
    """Per-image summary features: decoded width, height, pixel mean
    and pixel std."""

    def rows(payloads):
        for s in payloads:
            a = decoder(s["data"])
            yield int(a.shape[1]), int(a.shape[0]), float(a.mean()), float(a.std())

    return _map_payloads(
        df,
        image_col,
        [
            ("img_width", T.IntegerType()),
            ("img_height", T.IntegerType()),
            ("img_mean", T.DoubleType()),
            ("img_std", T.DoubleType()),
        ],
        rows,
    )


def resize_images(
    df: DataFrame,
    target: int,
    image_col: str = "image",
    decoder: Callable[[bytes], np.ndarray] = real_image_decoder,
) -> DataFrame:
    """Nearest-neighbour resize to (target, target); the payload column
    moves to the end, holding the raw resized bytes. Demonstrates the
    write-back shape (binary out)."""

    def rows(payloads):
        for s in payloads:
            a = decoder(s["data"])
            h, w = a.shape[:2]
            yi = (np.arange(target) * h // target).clip(0, h - 1)
            xi = (np.arange(target) * w // target).clip(0, w - 1)
            r = a[np.ix_(yi, xi)]
            yield ({
                "data": r.astype(np.uint8).tobytes(),
                "format": "raw8",
                "width": target,
                "height": target,
            },)

    return _map_payloads(df, image_col, [(image_col, IMAGE_SCHEMA)], rows)


# -- Y4M video (YUV4MPEG2 — a real uncompressed video container) ------------

def encode_y4m(frames: np.ndarray, fps: tuple[int, int] = (25, 1)) -> bytes:
    """(n, H, W) uint8 grayscale frames -> a real YUV4MPEG2 stream
    (C420jpeg, chroma planes neutral 128 — what ffmpeg/mplayer read).
    H and W must be even (4:2:0 chroma subsampling)."""
    f = np.ascontiguousarray(frames, dtype=np.uint8)
    if f.ndim != 3:
        raise ValueError("encode_y4m takes (n_frames, H, W) uint8")
    n, h, w = f.shape
    if h % 2 or w % 2:
        raise ValueError("encode_y4m: H and W must be even for C420")
    hdr = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C420jpeg\n".encode()
    uv = np.full((h // 2) * (w // 2), 128, dtype=np.uint8).tobytes()
    out = [hdr]
    for i in range(n):
        out.append(b"FRAME\n")
        out.append(f[i].tobytes())
        out.append(uv)
        out.append(uv)
    return b"".join(out)


def decode_y4m(data: bytes) -> tuple[np.ndarray, tuple[int, int]]:
    """Parse a YUV4MPEG2 stream (C420*/C444/Cmono, 8-bit): returns the
    LUMA planes as (n_frames, H, W) uint8 plus the frame rate. Chroma
    planes are skipped by size; frame-level parameter changes and other
    chroma taggings raise with the tag."""
    if not bytes(data[:9]) == b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    eol = data.index(b"\n")
    w = h = None
    fps = (25, 1)
    chroma = "420jpeg"
    for tok in bytes(data[10:eol]).split():
        t = tok.decode("latin1")
        if t[0] == "W":
            w = int(t[1:])
        elif t[0] == "H":
            h = int(t[1:])
        elif t[0] == "F":
            a, b = t[1:].split(":")
            fps = (int(a), int(b))
        elif t[0] == "C":
            chroma = t[1:]
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    # exact tags only: C420p10/C420p12 are 2 bytes/sample and would
    # silently mis-frame under an 8-bit plane-size guess
    if chroma in ("420", "420jpeg", "420mpeg2", "420paldv"):
        chroma_bytes = 2 * (h // 2) * (w // 2)
    elif chroma == "444":
        chroma_bytes = 2 * h * w
    elif chroma == "mono":
        chroma_bytes = 0
    else:
        raise NotImplementedError(f"Y4M chroma C{chroma} unsupported")
    p = eol + 1
    frames = []
    ysize = h * w
    while p < len(data):
        nl = data.index(b"\n", p)
        if bytes(data[p : p + 5]) != b"FRAME":
            raise ValueError(f"Y4M: bad frame marker at {p}")
        p = nl + 1
        frames.append(
            np.frombuffer(data, np.uint8, count=ysize, offset=p).reshape(h, w)
        )
        p += ysize + chroma_bytes
    return (
        np.stack(frames) if frames else np.empty((0, h, w), np.uint8),
        fps,
    )


def real_video_frames(data: bytes) -> np.ndarray:
    """Decode a Y4M payload to its luma frames; non-Y4M payloads raise
    (compressed video needs ffmpeg behind the same hook)."""
    frames, _fps = decode_y4m(data)
    return frames


def sample_frames(
    df: DataFrame,
    every_n: int,
    video_col: str = "video",
    frame_bytes: int = 64,
    decoder: "Callable[[bytes], np.ndarray] | None" = None,
) -> DataFrame:
    """Frame sampling for video payloads: emits one row per sampled
    frame (UDTF shape — one row in, many out). With ``decoder`` (e.g.
    :func:`real_video_frames` for Y4M) frames are DECODED planes
    serialized back to bytes; without one, frames are fixed-size byte
    slices of the payload (the keyframe-seek stand-in)."""
    schema = T.StructType(
        [f for f in df.schema.fields if f.name != video_col]
        + [
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )
    keep = [f.name for f in df.schema.fields if f.name != video_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                payload = r[video_col]
                if decoder is not None:
                    planes = decoder(payload)
                    for fno in range(0, len(planes), every_n):
                        base = {k: r[k] for k in keep}
                        base["frame_no"] = fno
                        base["frame"] = planes[fno].tobytes()
                        rows.append(base)
                else:
                    n_frames = max(len(payload) // frame_bytes, 0)
                    for fno in range(0, n_frames, every_n):
                        base = {k: r[k] for k in keep}
                        base["frame_no"] = fno
                        base["frame"] = payload[fno * frame_bytes : (fno + 1) * frame_bytes]
                        rows.append(base)
            yield pd.DataFrame(rows, columns=keep + ["frame_no", "frame"]) if rows else pd.DataFrame(
                columns=keep + ["frame_no", "frame"]
            )

    return df.mapInPandas(run, schema)


def fake_audio_decoder(data: bytes, sample_rate: int) -> np.ndarray:
    """Deterministic stand-in PCM decoder: payload bytes as int16 mono
    samples (a real implementation calls ffmpeg/soundfile)."""
    return np.frombuffer(data[: (len(data) // 2) * 2], dtype=np.int16)


# -- WAV (RIFF PCM + G.711 companding — numpy + struct only) ----------------

def _ulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 -> mu-law byte (ITU-T G.711; the canonical Sun g711.c
    bias-0x84 segmented encoder, vectorized)."""
    x = x.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.where(x < 0, -x, x), 32635) + 0x84
    exp = (np.floor(np.log2(mag)) - 7).astype(np.int32)
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~(sign | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def _ulaw_decode(b: np.ndarray) -> np.ndarray:
    u = (~b.astype(np.int32)) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)


def _alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 -> A-law byte (G.711; g711.c segmented encoder with the
    0x55 even-bit inversion, vectorized)."""
    x = x.astype(np.int32)
    pcm = x >> 3  # 13-bit magnitude domain
    mask = np.where(pcm >= 0, 0xD5, 0x55)
    pcm = np.where(pcm >= 0, pcm, -pcm - 1)
    pcm = np.minimum(pcm, 0xFFF)
    # segment = index of first seg_end >= pcm over {0x1F,0x3F,...,0xFFF}
    seg = np.zeros_like(pcm)
    for i, edge in enumerate([0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF]):
        seg = np.where(pcm > edge, i + 1, seg)
    aval = seg << 4
    low = np.where(seg < 2, (pcm >> 1) & 0x0F, (pcm >> seg) & 0x0F)
    return ((aval | low) ^ mask).astype(np.uint8)


def _alaw_decode(b: np.ndarray) -> np.ndarray:
    a = b.astype(np.int32) ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108,
                 (t + 0x108) << np.maximum(seg - 1, 0)))
    return np.where(a & 0x80, t, -t).astype(np.int16)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 PCM mono (n,) or stereo (n, 2) -> a real RIFF/WAVE file."""
    import struct as _st

    a = np.ascontiguousarray(samples, dtype="<i2")
    if a.ndim == 1:
        ch = 1
    elif a.ndim == 2 and a.shape[1] in (1, 2):
        ch = a.shape[1]
    else:
        raise ValueError("encode_wav takes (n,) or (n, 1|2) int16")
    body = a.tobytes()
    fmt = _st.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * ch * 2, ch * 2, 16
    )
    return (
        b"RIFF" + _st.pack("<I", 4 + 8 + len(fmt) + 8 + len(body)) + b"WAVE"
        + b"fmt " + _st.pack("<I", len(fmt)) + fmt
        + b"data" + _st.pack("<I", len(body)) + body
    )


def encode_wav_g711(samples: np.ndarray, sample_rate: int,
                    law: str = "ulaw") -> bytes:
    """int16 PCM mono -> a G.711-companded RIFF/WAVE file (format tag 7
    = mu-law, 6 = A-law; 8 bits/sample — the telephony recording
    format)."""
    import struct as _st

    a = np.ascontiguousarray(samples, dtype=np.int16)
    if a.ndim != 1:
        raise ValueError("encode_wav_g711 takes mono (n,) int16")
    if law == "ulaw":
        tag, body = 7, _ulaw_encode(a).tobytes()
    elif law == "alaw":
        tag, body = 6, _alaw_encode(a).tobytes()
    else:
        raise ValueError("law must be 'ulaw' or 'alaw'")
    fmt = _st.pack("<HHIIHH", tag, 1, sample_rate, sample_rate, 1, 8)
    return (
        b"RIFF" + _st.pack("<I", 4 + 8 + len(fmt) + 8 + len(body)) + b"WAVE"
        + b"fmt " + _st.pack("<I", len(fmt)) + fmt
        + b"data" + _st.pack("<I", len(body)) + body
    )


# -- IMA ADPCM (DVI/Intel, WAV format tag 0x11) -----------------------------
#
# A real 4:1 compressed audio codec decodable with integer arithmetic
# only: each sample is a 4-bit nibble driving an adaptive-step-size
# delta predictor (step table of 89 entries, index adjusted per
# nibble). Blocks are self-contained — a 4-byte header stores the
# exact int16 predictor and the step index — which is precisely the
# property that makes the format splittable for distributed decode:
# any block can be decoded without its predecessors. The encoder here
# resets the step index to 0 at every block header (a valid stream by
# construction, since the decoder honors whatever the header says),
# making blocks ENCODE-independent too — embarrassingly parallel in
# both directions.

IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767,
], dtype=np.int32)

IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _adpcm_step(nib: np.ndarray, pred: np.ndarray,
                idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One decoder update, vectorized across blocks: (nibble, pred,
    idx) -> (new pred, new idx). Shared by encode and decode so the
    encoder's tracked reconstruction is bit-identical to the decoder."""
    step = IMA_STEPS[idx]
    diff = (step >> 3)
    diff = diff + np.where(nib & 4, step, 0)
    diff = diff + np.where(nib & 2, step >> 1, 0)
    diff = diff + np.where(nib & 1, step >> 2, 0)
    pred = np.where(nib & 8, pred - diff, pred + diff)
    pred = np.clip(pred, -32768, 32767)
    idx = np.clip(idx + IMA_INDEX_ADJ[nib & 7], 0, 88)
    return pred, idx


def encode_wav_adpcm(samples: np.ndarray, sample_rate: int,
                     block_align: int = 256) -> bytes:
    """int16 PCM mono -> IMA ADPCM RIFF/WAVE (format tag 0x11, 4
    bits/sample). Block layout per the IMA WAV spec: 4-byte header
    (int16 predictor = the block's first sample, uint8 step index,
    reserved), then (block_align-4)*2 nibbles packed low-nibble-first;
    samples/block = (block_align-4)*2 + 1. A ``fact`` chunk records
    the true sample count (the final block is padded by repeating the
    last sample). Vectorized ACROSS blocks — the sequential scan is
    only within a block."""
    import struct as _st

    a = np.ascontiguousarray(samples, dtype=np.int16)
    if a.ndim != 1:
        raise ValueError("encode_wav_adpcm takes mono (n,) int16")
    if block_align < 8:
        raise ValueError("block_align must be >= 8")
    n = len(a)
    m = (block_align - 4) * 2          # nibbles (= samples) after header
    spb = m + 1                        # samples per full block
    nblocks = max(1, -(-n // spb))
    padded = np.empty(nblocks * spb, dtype=np.int32)
    padded[:n] = a
    padded[n:] = int(a[-1]) if n else 0
    grid = padded.reshape(nblocks, spb)
    pred = grid[:, 0].copy()           # header predictor = exact sample
    idx = np.zeros(nblocks, dtype=np.int32)
    nibs = np.empty((nblocks, m), dtype=np.uint8)
    for j in range(1, spb):
        step = IMA_STEPS[idx]
        delta = grid[:, j] - pred
        sign = np.where(delta < 0, 8, 0).astype(np.int32)
        mag = np.abs(delta)
        n4 = mag >= step
        mag = mag - np.where(n4, step, 0)
        n2 = mag >= (step >> 1)
        mag = mag - np.where(n2, step >> 1, 0)
        n1 = mag >= (step >> 2)
        nib = (sign | np.where(n4, 4, 0) | np.where(n2, 2, 0)
               | np.where(n1, 1, 0)).astype(np.uint8)
        nibs[:, j - 1] = nib
        pred, idx = _adpcm_step(nib.astype(np.int32), pred, idx)
    # pack: low nibble = earlier sample
    body = bytearray()
    hdr_pred = grid[:, 0].astype("<i2").tobytes()
    packed = (nibs[:, 0::2] | (nibs[:, 1::2] << 4)).astype(np.uint8)
    for b in range(nblocks):
        body += hdr_pred[2 * b: 2 * b + 2] + b"\x00\x00"
        body += packed[b].tobytes()
    fmt = _st.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        (sample_rate * block_align + spb - 1) // spb, block_align, 4,
        2, spb,
    )
    fact = _st.pack("<I", n)
    return (
        b"RIFF"
        + _st.pack("<I", 4 + 8 + len(fmt) + 8 + len(fact) + 8 + len(body))
        + b"WAVE"
        + b"fmt " + _st.pack("<I", len(fmt)) + fmt
        + b"fact" + _st.pack("<I", len(fact)) + fact
        + b"data" + _st.pack("<I", len(body)) + body
    )


def _adpcm_decode_blocks(blocks: np.ndarray) -> np.ndarray:
    """Decode a stack of uniform-size IMA ADPCM blocks: (N, ba) uint8
    -> (N, m+1) int32 samples. The sequential scan is only WITHIN a
    block; N is unbounded — callers may stack blocks from many clips
    (they are self-contained by format design), amortizing the
    per-step Python overhead across an entire Arrow batch."""
    pred = blocks[:, :2].copy().view("<i2")[:, 0].astype(np.int32)
    idx = np.clip(blocks[:, 2].astype(np.int32), 0, 88)
    packed = blocks[:, 4:]
    m = packed.shape[1] * 2
    nibs = np.empty((blocks.shape[0], m), dtype=np.int32)
    nibs[:, 0::2] = packed & 0x0F
    nibs[:, 1::2] = packed >> 4
    dec = np.empty((blocks.shape[0], m + 1), dtype=np.int32)
    dec[:, 0] = pred
    for j in range(m):
        pred, idx = _adpcm_step(nibs[:, j], pred, idx)
        dec[:, j + 1] = pred
    return dec


def _adpcm_decode_chunk(raw: bytes, block_align: int,
                        n_samples: int | None) -> np.ndarray:
    """Decode an IMA ADPCM mono data chunk -> int16. Full blocks are
    decoded vectorized across blocks; a trailing short block decodes
    the same way with its own (smaller) nibble count."""
    if block_align < 4:
        # an IMA block is a 4-byte header + nibbles: smaller alignments
        # (incl. 0 from a corrupt fmt chunk) cannot frame a block
        raise ValueError(f"IMA ADPCM block_align {block_align} invalid")
    out_parts: list[np.ndarray] = []
    nfull, rem = divmod(len(raw), block_align)
    for seg, ba in (
        (raw[: nfull * block_align], block_align),
        (raw[nfull * block_align:], rem),
    ):
        if not seg or ba < 4:
            continue
        dec = _adpcm_decode_blocks(
            np.frombuffer(seg, dtype=np.uint8).reshape(-1, ba)
        )
        out_parts.append(dec.reshape(-1))
    out = (np.concatenate(out_parts) if out_parts
           else np.empty(0, dtype=np.int32))
    if n_samples is not None:
        out = out[:n_samples]
    return out.astype(np.int16)


def _riff_chunks(data) -> "Iterator[tuple[bytes, int, int]]":
    """Yield (tag, body_offset, body_length) for each word-aligned RIFF
    chunk after the 12-byte RIFF/WAVE header — the ONE chunk walk both
    the per-clip and batch decoders share (a container fix must never
    apply to only one path)."""
    import struct as _st

    p = 12
    while p + 8 <= len(data):
        tag = bytes(data[p : p + 4])
        (ln,) = _st.unpack_from("<I", data, p + 4)
        if p + 8 + ln > len(data):
            # RIFF sizes are authoritative: a chunk body running past
            # EOF is a truncated file, not a shorter recording
            raise ValueError(f"RIFF: truncated {tag!r} chunk")
        yield tag, p + 8, ln
        p += 8 + ln + (ln & 1)  # chunks are word-aligned


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE payload: linear PCM (tag 1; 8-bit unsigned or
    16-bit signed), the G.711 companded forms (tag 6 A-law, tag 7
    mu-law — 8-bit telephony audio, expanded to int16 through the
    canonical g711.c tables), and IMA ADPCM (tag 0x11, mono — 4-bit
    adaptive delta blocks, ``fact``-trimmed). Returns (samples int16,
    sample_rate); stereo comes back as (n, 2). Unknown chunks are
    skipped by size;
    other compressed formats raise with the format tag."""
    import struct as _st

    if bytes(data[:4]) != b"RIFF" or bytes(data[8:12]) != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    samples = None
    rate = None
    fact_n = None
    for tag, body_off, ln in _riff_chunks(data):
        if tag == b"fmt ":
            if ln < 16:
                raise ValueError(f"WAV fmt chunk too short ({ln} bytes)")
            audio_fmt, ch, rate, _br, block_align, bits = _st.unpack_from(
                "<HHIIHH", data, body_off
            )
            if audio_fmt not in (1, 6, 7, 0x11):
                raise NotImplementedError(
                    f"WAV format tag {audio_fmt}: PCM (1), A-law (6), "
                    "mu-law (7) and IMA ADPCM (0x11) decode without "
                    "external libraries"
                )
            fmt = (audio_fmt, ch, bits, block_align)
        elif tag == b"fact":
            if ln < 4:
                raise ValueError("WAV fact chunk too short")
            (fact_n,) = _st.unpack_from("<I", data, body_off)
        elif tag == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk before fmt")
            audio_fmt, ch, bits, block_align = fmt
            if audio_fmt == 0x11:
                if ch != 1:
                    raise NotImplementedError(
                        "stereo IMA ADPCM not supported (mono only)"
                    )
                samples = _adpcm_decode_chunk(
                    bytes(data[body_off : body_off + ln]), block_align,
                    fact_n,
                )
            elif audio_fmt in (6, 7):
                if bits != 8:
                    raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
                raw = np.frombuffer(data, dtype=np.uint8, count=ln, offset=body_off)
                samples = (
                    _alaw_decode(raw) if audio_fmt == 6 else _ulaw_decode(raw)
                )
            elif bits == 16:
                samples = np.frombuffer(
                    data, dtype="<i2", count=ln // 2, offset=body_off
                ).astype(np.int16)
            elif bits == 8:
                samples = (
                    np.frombuffer(data, dtype=np.uint8, count=ln, offset=body_off)
                    .astype(np.int16) - 128
                ) * 256
            else:
                raise NotImplementedError(f"{bits}-bit WAV not supported")
            if ch == 2:
                samples = samples[: (len(samples) // 2) * 2].reshape(-1, 2)
            elif ch != 1:
                raise NotImplementedError(f"{ch}-channel WAV not supported")
    if samples is None or rate is None:
        raise ValueError("WAV missing fmt/data chunks")
    return samples, rate


def real_audio_decoder(data: bytes, sample_rate: int) -> np.ndarray:
    """Default-capable audio decoder: real RIFF/WAVE PCM parsing
    (numpy + struct) and native FLAC (llmdata/flac.py — the lossless
    container speech corpora like LibriSpeech ship); stereo downmixes
    to mono by averaging so the feature math stays 1-D. Other payloads
    fall back to the raw-PCM interpretation (the fake decoder's
    contract)."""
    head = bytes(data[:4])
    if head == b"RIFF":
        samples, _rate = decode_wav(data)
    elif head == b"fLaC":
        from coffea_spark.llmdata.flac import decode_flac

        samples, _rate = decode_flac(data)
        samples = samples.astype(np.int16)
    else:
        return fake_audio_decoder(data, sample_rate)
    if samples.ndim == 2:
        samples = samples.mean(axis=1).astype(np.int16)
    return samples


def real_audio_batch_decoder(
    datas: "list[bytes]", rates: "list[int]"
) -> "list[np.ndarray]":
    """Batched ``real_audio_decoder``: every mono IMA ADPCM block in
    the batch decodes in ONE vectorized pass per block size — blocks
    are self-contained by format design, so blocks from thousands of
    clips stack into a single matrix and the per-step Python overhead
    amortizes across the whole Arrow batch instead of being paid per
    clip (~5x on the adpcm_features gate). Non-ADPCM payloads fall
    through to ``real_audio_decoder`` item by item. Returns one mono
    int16 array per input."""
    import struct as _st

    out: list = [None] * len(datas)
    groups: dict[int, list[np.ndarray]] = {}   # ba -> block matrices
    plan: dict[int, list] = {}                 # slot -> [(ba, off, k)]
    facts: dict[int, int | None] = {}
    for i, data in enumerate(datas):
        data = bytes(data)
        if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
            out[i] = real_audio_decoder(data, rates[i])
            continue
        fmt, fact_n, body = None, None, None
        for tag, body_off, ln in _riff_chunks(data):
            if tag == b"fmt ":
                fmt = _st.unpack_from("<HHIIHH", data, body_off)
            elif tag == b"fact":
                (fact_n,) = _st.unpack_from("<I", data, body_off)
            elif tag == b"data":
                body = data[body_off : body_off + ln]
        if fmt is None or body is None or fmt[0] != 0x11 or fmt[1] != 1:
            out[i] = real_audio_decoder(data, rates[i])
            continue
        ba = fmt[4]
        segs = []
        nfull, rem = divmod(len(body), ba)
        for seg, sba in ((body[: nfull * ba], ba), (body[nfull * ba :], rem)):
            if not seg or sba < 4:
                continue
            mat = np.frombuffer(seg, np.uint8).reshape(-1, sba)
            lst = groups.setdefault(sba, [])
            segs.append((sba, sum(x.shape[0] for x in lst), mat.shape[0]))
            lst.append(mat)
        plan[i] = segs
        facts[i] = fact_n
    decoded = {
        ba: _adpcm_decode_blocks(np.concatenate(mats) if len(mats) > 1
                                 else mats[0])
        for ba, mats in groups.items()
    }
    for i, segs in plan.items():
        parts = [decoded[ba][off : off + k].reshape(-1) for ba, off, k in segs]
        s = np.concatenate(parts) if parts else np.empty(0, np.int32)
        if facts[i] is not None:
            s = s[: facts[i]]
        out[i] = s.astype(np.int16)
    return out


def audio_features(
    df: DataFrame,
    audio_col: str = "audio",
    decoder: Callable[[bytes, int], np.ndarray] = fake_audio_decoder,
    batch_decoder: "Callable[[list, list], list] | None" = None,
) -> DataFrame:
    """Per-clip audio summary features (duration, RMS level, peak,
    zero-crossing rate). Pass ``batch_decoder`` (e.g.
    ``real_audio_batch_decoder``) to decode a whole Arrow batch at
    once — the right shape for block codecs whose per-clip decode is
    loop-bound."""

    def rows(payloads):
        rates = [s["sample_rate"] for s in payloads]
        if batch_decoder is not None:
            pcms = batch_decoder([s["data"] for s in payloads], rates)
        else:
            pcms = [decoder(s["data"], s["sample_rate"]) for s in payloads]
        for pcm, rate in zip(pcms, rates):
            pcm = pcm.astype(np.float64)
            if len(pcm) == 0:
                yield 0.0, 0.0, 0, 0.0
                continue
            yield (
                len(pcm) / float(rate),
                float(np.sqrt(np.mean(pcm**2))),
                int(np.abs(pcm).max()),
                float(np.mean(np.signbit(pcm[1:]) != np.signbit(pcm[:-1]))),
            )

    return _map_payloads(
        df,
        audio_col,
        [
            ("duration_s", T.DoubleType()),
            ("rms", T.DoubleType()),
            ("peak", T.IntegerType()),
            ("zcr", T.DoubleType()),
        ],
        rows,
    )


def resample_linear(pcm: np.ndarray, src_rate: int, dst_rate: int) -> np.ndarray:
    """Linear-interpolation resampling with INTEGER-EXACT position math
    — the 16 kHz-normalization step every speech-training pipeline runs
    before featurization. Output index i maps to source position
    i*src/dst evaluated in integer arithmetic (i0 = i*src // dst,
    frac = (i*src mod dst)/dst), so sample selection never depends on
    float rounding and a SQL engine replays the result bit-for-bit.
    n_out = (n-1)*dst // src + 1: the grid never extrapolates past the
    last sample (and lands exactly ON it, frac == 0, when the ratio
    divides evenly). Returns float64."""
    if src_rate <= 0 or dst_rate <= 0:
        raise ValueError("rates must be positive")
    x = np.asarray(pcm, dtype=np.float64)
    n = len(x)
    if n == 0:
        return x
    n_out = (n - 1) * dst_rate // src_rate + 1
    i = np.arange(n_out, dtype=np.int64)
    pos = i * src_rate
    i0 = pos // dst_rate
    frac = (pos - i0 * dst_rate).astype(np.float64) / dst_rate
    x1 = x[np.minimum(i0 + 1, n - 1)]
    return x[i0] + (x1 - x[i0]) * frac


def resample_features(
    df: DataFrame,
    audio_col: str = "audio",
    target_rate: int = 16000,
    decoder: Callable[[bytes, int], np.ndarray] = fake_audio_decoder,
) -> DataFrame:
    """Decode -> :func:`resample_linear` to ``target_rate`` -> per-clip
    summary (output length, mean, RMS)."""

    def rows(payloads):
        for s in payloads:
            pcm = decoder(s["data"], s["sample_rate"])
            y = resample_linear(pcm, int(s["sample_rate"]), target_rate)
            if len(y) == 0:
                yield 0, 0.0, 0.0
                continue
            yield len(y), float(np.mean(y)), float(np.sqrt(np.mean(y * y)))

    return _map_payloads(
        df,
        audio_col,
        [
            ("n_out", T.LongType()),
            ("mean_out", T.DoubleType()),
            ("rms_out", T.DoubleType()),
        ],
        rows,
    )


def goertzel_power(pcm: np.ndarray, sample_rate: int, freqs) -> np.ndarray:
    """Goertzel single-bin DFT power at each requested frequency — the
    classic tone-detection primitive (DTMF/beep/test-tone screening in
    audio-corpus curation). The Goertzel recurrence's power
    s1^2 + s2^2 - c*s1*s2 equals |sum_k x[k] e^{-iwk}|^2 exactly, so
    the computation here is the fully-vectorized identity form — two
    dot products per frequency (the per-sample IIR loop is kept as the
    independent reference in the property tests). Normalized by
    (n/2)^2 so a unit-amplitude sine at f reads ~1.0."""
    x = np.asarray(pcm, dtype=np.float64)
    n = len(x)
    freqs = np.asarray(list(freqs), dtype=np.float64)
    if n == 0:
        return np.zeros(len(freqs))
    w = 2.0 * np.pi * freqs / float(sample_rate)  # (nf,)
    k = np.arange(n, dtype=np.float64)
    ph = w[:, None] * k[None, :]  # (nf, n)
    re = np.cos(ph) @ x
    im = np.sin(ph) @ x
    return (re * re + im * im) / (n / 2.0) ** 2


def tone_features(
    df: DataFrame,
    audio_col: str = "audio",
    freqs=(440.0, 1000.0),
    decoder: Callable[[bytes, int], np.ndarray] = fake_audio_decoder,
) -> DataFrame:
    """Per-clip Goertzel tone powers (one array column, ordered like
    ``freqs``) plus the dominant requested frequency."""
    flist = [float(f) for f in freqs]

    def rows(payloads):
        for s in payloads:
            pcm = decoder(s["data"], s["sample_rate"])
            p = goertzel_power(pcm, int(s["sample_rate"]), flist)
            yield (
                [float(v) for v in p],
                flist[int(np.argmax(p))] if len(p) else float("nan"),
            )

    return _map_payloads(
        df,
        audio_col,
        [
            ("tone_power", T.ArrayType(T.DoubleType())),
            ("dominant_freq", T.DoubleType()),
        ],
        rows,
    )


def patchify(arr: np.ndarray, patch: int) -> np.ndarray:
    """Non-overlapping patch means of a 2-D grayscale image — the ViT
    tokenization grid (Dosovitskiy et al. 2021): crop to multiples of
    ``patch`` (the standard behavior), reshape to
    (H//p, p, W//p, p) and reduce each p x p block. Returns the
    (H//p, W//p) patch-mean matrix."""
    if patch <= 0:
        raise ValueError("patch must be positive")
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim != 2:
        raise ValueError("patchify expects a 2-D grayscale image")
    hc, wc = a.shape[0] - a.shape[0] % patch, a.shape[1] - a.shape[1] % patch
    # zero-size dims flow through reshape naturally: an image shorter
    # than one patch in a dimension yields the true (h//p, w//p) grid
    # with zero patches
    return (
        a[:hc, :wc]
        .reshape(hc // patch, patch, wc // patch, patch)
        .mean(axis=(1, 3))
    )


def patch_features(
    df: DataFrame,
    image_col: str = "image",
    patch: int = 4,
    decoder: Callable[[bytes], np.ndarray] = real_image_decoder,
) -> DataFrame:
    """Per-image ViT-patch statistics: decode -> :func:`patchify` ->
    (n_patches, mean / max of patch means, patch CONTRAST = population
    std of the patch means — the texture-vs-flat signal vision curation
    filters threshold on)."""

    def rows(payloads):
        for s in payloads:
            m = patchify(decoder(s["data"]), patch).ravel()
            if m.size == 0:
                yield 0, 0.0, 0.0, 0.0
                continue
            mu = float(np.mean(m))
            # explicit E[m^2] - E[m]^2 shape (matches the SQL oracle)
            ct = float(np.sqrt(max(np.mean(m * m) - mu * mu, 0.0)))
            yield int(m.size), mu, float(np.max(m)), ct

    return _map_payloads(
        df,
        image_col,
        [
            ("n_patches", T.LongType()),
            ("patch_mean_avg", T.DoubleType()),
            ("patch_mean_max", T.DoubleType()),
            ("patch_contrast", T.DoubleType()),
        ],
        rows,
    )
