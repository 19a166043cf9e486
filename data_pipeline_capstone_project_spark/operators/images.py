"""Real image bytes through the multimodal path (SURVEY S4/A7-A9).

The reference's image job reads a real store with Spark's image source
and clusters decoded pixels (``spark/spark_image.py:182-191``). This
container has no image library, but that does NOT force the decode
seam to stay synthetic: PNG is decodable with nothing beyond stdlib
``zlib``/``struct``, and Spark's JVM image source decodes PNG via
ImageIO on its own. This module provides

- :func:`make_png` / :func:`png_meta` / :func:`png_pixels`: a minimal
  pure-Python truecolor PNG codec (encoder: filter-0 rows; decoder:
  all five scanline filters). No new dependencies.
- :func:`image_decode_query`: stages a deterministic PNG store, reads
  it BOTH ways - ``binaryFile`` -> Arrow-batched ``mapInPandas``
  decode with this codec, and ``format("image")`` -> JVM ImageIO
  decode - and emits per-image dimensions plus a pixel-exact
  cross-check of the two decoders (python RGB vs JVM BGR flipped).
- :func:`color_palette_png_query`: the reference's palette pipeline
  over REAL decoded PNG bytes: image source -> mode-16 filter ->
  grouped-map KMeans (``operators/colors.py``). Fixtures are solid
  4x4 tiles, three distinct colors per user with equal pixel counts,
  so the expected palette is CLOSED-FORM and the DuckDB oracle asserts
  the exact JSON the UDF must emit - percentages, RGB order (a BGR/RGB
  flip bug changes the hex and fails the hash), ranking.

Scale: the staged store is fixture plumbing; the operators themselves
are the scale path - binaryFile/image scans partition by file,
mapInPandas streams Arrow batches (payloads never on the driver), and
the palette is one shuffle (the groupBy) of decoded-pixel rows.
"""

from __future__ import annotations

import json
import os
import shutil
import struct
import tempfile
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_IMG_USERS = 8
COLORS_PER_USER = 3
IMG_W = 4
IMG_H = 4


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


#: Adam7 pass grid: (x_start, y_start, x_step, y_step) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def make_png(
    pixels: np.ndarray,
    color_type: int = 2,
    interlace: bool = False,
    palette: list | None = None,
) -> bytes:
    """Encode a PNG (8-bit, filter 0 on every scanline).
    ``color_type`` 2 (truecolor, (h, w, 3) RGB input), 0 (grayscale,
    (h, w) input) or 3 (palette, (h, w) index input + ``palette`` as
    a list of RGB triples). ``interlace=True`` writes the Adam7
    seven-pass layout (14.1 of the PNG spec)."""
    h, w = pixels.shape[:2]
    header = struct.pack(
        ">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0
    )
    px = pixels if pixels.ndim == 3 else pixels[..., None]

    def scanlines(img: np.ndarray) -> bytes:
        return b"".join(b"\x00" + img[y].tobytes() for y in range(img.shape[0]))

    if interlace:
        raw = b""
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += scanlines(sub)
    else:
        raw = scanlines(px)
    out = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", header)
    if color_type == 3:
        out += _chunk(
            b"PLTE",
            b"".join(bytes(rgb) for rgb in palette),
        )
    return out + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b"")


def make_bmp(img: "np.ndarray") -> bytes:
    """Minimal BITMAPINFOHEADER BMP (24-bit BI_RGB): bottom-up rows,
    BGR byte order, 4-byte row padding - the uncompressed classic."""
    h, w = img.shape[:2]
    row = w * 3
    pad = (-row) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        body += img[y, :, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        body += b"\0" * pad
    import struct as _s

    info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    off = 14 + 40
    head = b"BM" + _s.pack("<IHHI", off + len(body), 0, 0, off)
    return head + info + bytes(body)


def _pack_rows(idx: "np.ndarray", bpp: int) -> bytearray:
    """Bottom-up BI_RGB index rows at 1/4/8 bits per pixel, high
    bits first within a byte, each row padded to a 4-byte stride."""
    h, w = idx.shape
    body = bytearray()
    for y in range(h - 1, -1, -1):
        if bpp == 8:
            row = bytearray(idx[y].astype(np.uint8).tobytes())
        elif bpp == 4:
            row = bytearray()
            for x in range(0, w, 2):
                hi = int(idx[y, x]) << 4
                lo = int(idx[y, x + 1]) if x + 1 < w else 0
                row.append(hi | lo)
        else:  # 1-bit, MSB first
            row = bytearray()
            for x in range(0, w, 8):
                b = 0
                for k in range(min(8, w - x)):
                    b |= int(idx[y, x + k]) << (7 - k)
                row.append(b)
        row += b"\0" * ((-len(row)) % 4)
        body += row
    return body


def _rle_rows(idx: "np.ndarray", bpp: int) -> bytearray:
    """BI_RLE8 (bpp 8) / BI_RLE4 (bpp 4) pixel data: encoded runs for
    >= 2 repeats (RLE4 runs alternate the byte's two nibbles, so a
    same-value run uses value in both), absolute mode (escape 0,
    count 3..255, nibble-packed for RLE4, word-aligned) for literal
    stretches of >= 3, single-pixel runs otherwise, an end-of-line
    escape per row and the end-of-bitmap escape."""
    h, w = idx.shape
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = idx[y]
        x = 0
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            if run >= 2:
                v = int(row[x])
                body += bytes((run, (v << 4) | v if bpp == 4 else v))
                x += run
                continue
            # literal stretch until a >=3 run starts (or 255 cap)
            j = x
            while j < w and (j - x) < 255:
                if j + 2 < w and row[j] == row[j + 1] == row[j + 2]:
                    break
                j += 1
            n = j - x
            if n >= 3:
                body += bytes((0, n))
                if bpp == 8:
                    chunk = bytearray(row[x:j].astype(np.uint8).tobytes())
                else:
                    chunk = bytearray()
                    for k in range(x, j, 2):
                        hi = int(row[k]) << 4
                        lo = int(row[k + 1]) if k + 1 < j else 0
                        chunk.append(hi | lo)
                chunk += b"\0" * ((-len(chunk)) % 2)  # word alignment
                body += chunk
            else:
                for k in range(n):
                    v = int(row[x + k])
                    body += bytes((1, v << 4 if bpp == 4 else v))
            x = j
        body += bytes((0, 0))  # end of line
    body += bytes((0, 1))  # end of bitmap
    return body


def make_bmp_indexed(
    idx: "np.ndarray",
    palette: "list[tuple[int, int, int]]",
    rle: bool = False,
    bpp: int = 8,
) -> bytes:
    """Paletted BITMAPINFOHEADER BMP at 1/4/8 bits per pixel: BI_RGB
    (packed index rows, 4-byte stride) or - for 4/8 bpp - BI_RLE4 /
    BI_RLE8 (``rle=True``), covering every non-delta construct of
    the RLE formats."""
    import struct as _s

    h, w = idx.shape
    if bpp not in (1, 4, 8) or (rle and bpp == 1):
        raise ValueError("paletted BMP is 1/4/8 bpp (RLE: 4/8)")
    if idx.max(initial=0) >= min(len(palette), 1 << bpp):
        raise ValueError("index out of palette range")
    quads = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    body = _rle_rows(idx, bpp) if rle else _pack_rows(idx, bpp)
    comp = 0 if not rle else (1 if bpp == 8 else 2)
    info = _s.pack(
        "<IiiHHIIiiII", 40, w, h, 1, bpp, comp, len(body), 2835, 2835,
        len(palette), 0,
    )
    off = 14 + 40 + len(quads)
    head = b"BM" + _s.pack("<IHHI", off + len(body), 0, 0, off)
    return head + info + quads + bytes(body)


def bmp_meta(payload: bytes) -> tuple[int, int]:
    """(width, height) from the BITMAPINFOHEADER (negative height =
    top-down layout, reported as its magnitude)."""
    import struct as _s

    if payload[:2] != b"BM" or len(payload) < 26:
        raise ValueError("not a BMP stream")
    _size, w, h = _s.unpack("<Iii", payload[14:26])
    if _size < 40:
        raise ValueError("pre-BITMAPINFOHEADER BMP not supported")
    return w, abs(h)


def bmp_pixels(payload: bytes) -> "np.ndarray":
    """(h, w, 3) RGB from a BMP: 24-bit BI_RGB (bottom-up or
    top-down), 8-bit paletted BI_RGB, or 8-bit BI_RLE8 (r11: encoded
    runs, absolute mode with word alignment, end-of-line /
    end-of-bitmap / delta escapes; pixels a delta skips stay palette
    index 0, matching decoders that zero-initialise the raster).
    Other depths/compressions raise NotImplementedError."""
    import struct as _s

    w, h = bmp_meta(payload)
    if len(payload) < 54:
        raise ValueError("truncated BITMAPINFOHEADER")
    (off,) = _s.unpack("<I", payload[10:14])
    _sz, _w, rawh, _planes, bpp, comp, _isz, _xp, _yp, clr_used, _ci = (
        _s.unpack("<IiiHHIIiiII", payload[14:54])
    )
    if w <= 0 or h == 0 or w * h > 1 << 27:
        raise ValueError("hostile/corrupt BMP dimensions")
    if bpp == 24 and comp == 0:
        row = w * 3
        stride = row + ((-row) % 4)
        need = off + stride * h
        if len(payload) < need:
            raise ValueError("truncated BMP pixel data")
        rows = np.frombuffer(
            payload[off : off + stride * h], dtype=np.uint8
        ).reshape(h, stride)[:, :row].reshape(h, w, 3)
        if rawh > 0:  # bottom-up
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR -> RGB
    if (
        bpp not in (1, 4, 8)
        or comp not in (0, 1, 2)
        or (comp == 1 and bpp != 8)
        or (comp == 2 and bpp != 4)
    ):
        raise NotImplementedError(
            "only 24-bit BI_RGB, 1/4/8-bit paletted BI_RGB, BI_RLE8 "
            "and BI_RLE4 BMP"
        )
    n_pal = clr_used or (1 << bpp)
    pal_off = 14 + _sz
    quads = payload[pal_off : pal_off + 4 * n_pal]
    if len(quads) < 4 * n_pal:
        raise ValueError("truncated BMP color table")
    palette = np.frombuffer(quads, dtype=np.uint8).reshape(n_pal, 4)[
        :, [2, 1, 0]
    ]  # BGRx -> RGB
    if comp == 0:
        row_bytes = (w * bpp + 7) // 8
        stride = row_bytes + ((-row_bytes) % 4)
        if len(payload) < off + stride * h:
            raise ValueError("truncated BMP pixel data")
        packed = np.frombuffer(
            payload[off : off + stride * h], dtype=np.uint8
        ).reshape(h, stride)[:, :row_bytes]
        if bpp == 8:
            idx = packed[:, :w]
        elif bpp == 4:  # high nibble first
            idx = np.empty((h, row_bytes * 2), dtype=np.uint8)
            idx[:, 0::2] = packed >> 4
            idx[:, 1::2] = packed & 15
            idx = idx[:, :w]
        else:  # 1-bit, MSB first
            idx = np.unpackbits(packed, axis=1)[:, :w]
        if rawh > 0:
            idx = idx[::-1]
    else:  # BI_RLE8 / BI_RLE4 (bottom-up only per the spec)
        if rawh < 0:
            raise ValueError("top-down BI_RLE BMP is invalid")
        idx = np.zeros((h, w), dtype=np.uint8)
        x = y = 0  # y counts rows from the BOTTOM
        i = off
        end = len(payload)
        while True:
            if i + 2 > end:
                raise ValueError("truncated BI_RLE stream")
            b0, b1 = payload[i], payload[i + 1]
            i += 2
            if b0:  # encoded run
                if y >= h or x + b0 > w:
                    raise ValueError("BI_RLE run overflows the row")
                if comp == 1:
                    idx[h - 1 - y, x : x + b0] = b1
                else:  # RLE4: the byte's two nibbles alternate
                    pair = np.array((b1 >> 4, b1 & 15), dtype=np.uint8)
                    idx[h - 1 - y, x : x + b0] = np.resize(pair, b0)
                x += b0
            elif b1 == 0:  # end of line
                x, y = 0, y + 1
                if y > h:
                    raise ValueError("BI_RLE ran past the last row")
            elif b1 == 1:  # end of bitmap
                break
            elif b1 == 2:  # delta: skipped pixels stay index 0
                if i + 2 > end:
                    raise ValueError("truncated BI_RLE delta")
                x += payload[i]
                y += payload[i + 1]
                i += 2
                if x > w or y >= h:
                    raise ValueError("BI_RLE delta out of bounds")
            else:  # absolute mode, word-aligned
                n = b1
                used = n if comp == 1 else (n + 1) // 2
                pad = used % 2
                if i + used + pad > end:
                    raise ValueError("truncated BI_RLE absolute run")
                if y >= h or x + n > w:
                    raise ValueError("BI_RLE absolute run overflows")
                chunk = np.frombuffer(
                    payload[i : i + used], dtype=np.uint8
                )
                if comp == 1:
                    idx[h - 1 - y, x : x + n] = chunk
                else:
                    nib = np.empty(used * 2, dtype=np.uint8)
                    nib[0::2] = chunk >> 4
                    nib[1::2] = chunk & 15
                    idx[h - 1 - y, x : x + n] = nib[:n]
                x += n
                i += used + pad
    if int(idx.max(initial=0)) >= n_pal:
        raise ValueError("BMP index outside the color table")
    return palette[idx].copy()


def png_meta(payload: bytes) -> tuple[int, int]:
    """(width, height) from the IHDR chunk - the header-parse decode
    used by :func:`~.multimodal.decode_media_meta` for PNG inputs."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    if payload[12:16] != b"IHDR":
        raise ValueError("IHDR not first chunk")
    if len(payload) < 24:
        raise ValueError("truncated IHDR")
    w, h = struct.unpack(">II", payload[16:24])
    return w, h


def _unfilter(raw: bytes, pos: int, w: int, h: int, bpp: int):
    """Undo the per-scanline filters (types 0-4 incl. Paeth) for one
    image or Adam7 sub-image of ``w`` x ``h`` pixels at ``bpp`` bytes
    per pixel starting at ``pos``. Returns ((h, w*bpp) uint8, new
    pos)."""
    stride = w * bpp
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw[pos + 1 : pos + 1 + stride], dtype=np.uint8).astype(
            np.int32
        )
        if len(line) < stride:
            raise ValueError("truncated scanline")
        pos += 1 + stride
        cur = np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub/Average/Paeth need the left neighbor: sequential
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    base = a
                elif ftype == 3:
                    base = (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    base = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad filter {ftype}")
                cur[x] = (line[x] + base) & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out, pos


def png_pixels(payload: bytes) -> np.ndarray:
    """Full pure-Python decode of an 8-bit PNG: concatenate IDAT,
    inflate, undo the per-scanline filters, de-interlace when Adam7.
    Color types 2 (truecolor), 0 (grayscale, replicated to RGB) and 3
    (palette, PLTE lookup) are supported, interlaced or not - the
    variants real web/tool PNGs actually use at 8-bit depth. Returns
    (h, w, 3) uint8 RGB; 16-bit depth and alpha variants raise.
    Corrupt streams (bad deflate data, truncated chunks) raise a
    clean ValueError - the same contract as every binary parser in
    the repo (tests/test_binary_fuzz.py)."""
    try:
        return _png_pixels_impl(payload)
    except (zlib.error, struct.error, IndexError) as e:
        raise ValueError(f"corrupt PNG stream ({type(e).__name__})") from e


def _png_pixels_impl(payload: bytes) -> np.ndarray:
    w, h = png_meta(payload)
    bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
        ">BBBBB", payload[24:29]
    )
    if bit_depth != 8 or color_type not in (0, 2, 3) or interlace > 1:
        raise ValueError(
            "only 8-bit grayscale/truecolor/palette PNGs supported"
        )
    idat = bytearray()
    plte = b""
    off = 8
    while off < len(payload):
        (length,) = struct.unpack(">I", payload[off : off + 4])
        tag = payload[off + 4 : off + 8]
        if tag == b"IDAT":
            idat += payload[off + 8 : off + 8 + length]
        elif tag == b"PLTE":
            plte = payload[off + 8 : off + 8 + length]
        off += 12 + length
    raw = zlib.decompress(bytes(idat))
    bpp = 3 if color_type == 2 else 1
    if interlace:
        img = np.zeros((h, w, bpp), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = max(0, (w - x0 + dx - 1) // dx)
            ph = max(0, (h - y0 + dy - 1) // dy)
            if not pw or not ph:
                continue
            sub, pos = _unfilter(raw, pos, pw, ph, bpp)
            img[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
    else:
        flat, _pos = _unfilter(raw, 0, w, h, bpp)
        img = flat.reshape(h, w, bpp)
    if color_type == 2:
        return img
    if color_type == 0:
        return np.repeat(img, 3, axis=2)
    if len(plte) % 3 or not plte:
        raise ValueError("palette PNG without a valid PLTE")
    table = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    idx = img[..., 0]
    if idx.max() >= len(table):
        raise ValueError("palette index out of range")
    return table[idx]


def _user_colors(user: int) -> list[tuple[int, int, int]]:
    """Three distinct solid RGB colors per user, strictly increasing
    brightness, components deliberately asymmetric (r != g != b) so a
    BGR/RGB channel swap anywhere in the pipeline changes the result."""
    return [
        (40 * j + 7 * user, 40 * j + 7 * user + 1, 40 * j + 7 * user + 2)
        for j in range(COLORS_PER_USER)
    ]


def _stage_png_store(root: str) -> None:
    """Write the deterministic PNG fixture store: per user, one solid
    IMG_W x IMG_H tile per color. Tiny driver-side staging (the store
    stands in for an object store prefix)."""
    for user in range(N_IMG_USERS):
        for j, rgb in enumerate(_user_colors(user)):
            px = np.tile(np.array(rgb, dtype=np.uint8), (IMG_H, IMG_W, 1))
            with open(os.path.join(root, f"u{user:02d}_c{j}.png"), "wb") as f:
                f.write(make_png(px))


#: PNG-variant fixtures added to the decode store (name -> writer):
#: gradients, not solids, so an interlace-pass or palette-order bug
#: changes bytes. Each is cross-checked against JVM ImageIO.
VARIANT_W, VARIANT_H = 9, 7  # non-multiples of 8: partial Adam7 passes


def _variant_pngs() -> list[tuple[str, bytes]]:
    gy, gx = np.mgrid[0:VARIANT_H, 0:VARIANT_W]
    gray = (13 * gx + 29 * gy).astype(np.uint8)
    rgb = np.stack([gray, (gray + 85) % 256, (gray + 170) % 256], axis=-1).astype(
        np.uint8
    )
    pal = [(11 * i % 256, (7 * i + 3) % 256, (5 * i + 9) % 256) for i in range(16)]
    idx = ((gx + gy) % 16).astype(np.uint8)
    return [
        ("v_gray.png", make_png(gray, color_type=0)),
        ("v_gray_i7.png", make_png(gray, color_type=0, interlace=True)),
        ("v_rgb_i7.png", make_png(rgb, interlace=True)),
        ("v_pal.png", make_png(idx, color_type=3, palette=pal)),
        ("v_pal_i7.png", make_png(idx, color_type=3, palette=pal, interlace=True)),
    ]


def image_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: decode REAL PNG bytes two independent ways and
    cross-check pixel-exactly. ``binaryFile`` rows go through the
    Arrow-batched python codec (header + full unfilter, incl. Adam7
    de-interlace, grayscale and palette); the same files via
    ``format("image")`` are decoded by JVM ImageIO. Output: per-image
    dims from the python decode plus pixels_match (python plane(s)
    reordered to ImageIO's layout == JVM bytes - gray stays 1
    channel, color flips to BGR)."""
    work = tempfile.mkdtemp(prefix="png_store_")
    try:
        _stage_png_store(work)
        for name, payload in _variant_pngs():
            with open(os.path.join(work, name), "wb") as f:
                f.write(payload)

        bin_df = spark.read.format("binaryFile").load(work).select(
            F.element_at(F.split("path", "/"), -1).alias("img_name"),
            F.col("content").alias("payload"),
        )

        def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                metas = [png_meta(p) for p in pdf["payload"]]
                # python decode -> ImageIO's channel layout: BGR for
                # color sources, the bare gray plane for grayscale
                # (ImageIO/Spark image source keeps those 1-channel)
                bgr = [
                    png_pixels(p)[..., 0].tobytes()
                    if p[25] == 0
                    else png_pixels(p)[..., ::-1].tobytes()
                    for p in pdf["payload"]
                ]
                yield pd.DataFrame(
                    {
                        "img_name": pdf["img_name"],
                        "width": [m[0] for m in metas],
                        "height": [m[1] for m in metas],
                        "py_bgr": bgr,
                    }
                )

        py = bin_df.mapInPandas(
            decode_batches, "img_name string, width int, height int, py_bgr binary"
        )
        jvm = (
            spark.read.format("image")
            .option("dropInvalid", True)
            .load(work)
            .select("image.*")
            .select(
                F.element_at(F.split("origin", "/"), -1).alias("img_name"),
                F.col("width").alias("jvm_width"),
                F.col("height").alias("jvm_height"),
                F.col("data").alias("jvm_bgr"),
            )
        )
        out = py.join(jvm, "img_name").select(
            "img_name",
            "width",
            "height",
            (
                (F.col("width") == F.col("jvm_width"))
                & (F.col("height") == F.col("jvm_height"))
                & (F.col("py_bgr") == F.col("jvm_bgr"))
            ).alias("pixels_match"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _hsv_roundtrip(r: int, g: int, b: int) -> tuple[tuple, tuple]:
    """Independent scalar twin (stdlib ``colorsys``, no numpy) of the
    reference's per-color chain: BGR2HSV on the RGB-flipped pixel then
    HSV2RGB on the (truncated) center (``spark_image.py:149,160,
    40-56``). cvtColor reads the flipped array's channel 0 as Blue,
    so the hue is computed on the R/B-swapped color - reproduced here
    by feeding colorsys (b, g, r). Returns (hsv8, rgb_out): the 8-bit
    quantized HSV the clusterer sees and the emitted RGB."""
    import colorsys

    h, s, v = colorsys.rgb_to_hsv(b / 255.0, g / 255.0, r / 255.0)
    h8 = int(h * 360.0 / 2.0 + 0.5) % 180
    s8 = int(s * 255.0 + 0.5)
    v8 = int(v * 255.0 + 0.5)
    # solid tiles -> exact integer centers; truncation is a no-op here
    ro, go, bo = colorsys.hsv_to_rgb(h8 * 2.0 / 360.0, s8 / 255.0, v8 / 255.0)
    rgb_out = (int(ro * 255.0 + 0.5), int(go * 255.0 + 0.5), int(bo * 255.0 + 0.5))
    return (h8, s8, v8), rgb_out


def _expected_palette_json(user: int) -> str:
    """The closed-form palette for a user's fixture images: three
    equal-weight solid colors clustered in HSV space, ranked by
    (count desc, HSV-center sum asc) - counts tie, so the HSV sum
    breaks the tie. Computed through the colorsys scalar twin, fully
    independent of the operator's vectorized numpy conversions, so a
    quantization or channel-order drift in either side fails the
    exact-JSON compare."""
    scored = []
    for rgb in _user_colors(user):
        hsv8, rgb_out = _hsv_roundtrip(*rgb)
        scored.append((sum(hsv8), rgb_out))
    # The operator breaks the equal-count tie by HSV-center sum ONLY
    # (cluster index is the residual tie-break); the oracle's sort key
    # must therefore never need its rgb_out component. Guard the
    # fixture palette at oracle-build time so a future fixture edit
    # cannot introduce a nondeterministic compare.
    sums = [s for s, _ in scored]
    if len(set(sums)) != len(sums):
        raise RuntimeError(
            f"user {user}: fixture colors share an HSV component sum {sums} - "
            "operator and oracle tie-breaks would diverge"
        )
    scored.sort()  # equal counts -> ascending HSV center sum
    colors = []
    for _, (r, g, b) in scored:
        colors.append(
            {
                "percentage": round(1.0 / COLORS_PER_USER, 4),
                "red": r,
                "green": g,
                "blue": b,
                "hex": f"#{r:02x}{g:02x}{b:02x}",
            }
        )
    return json.dumps(colors)


def color_palette_png_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the reference's palette pipeline over real
    decoded PNGs (``spark_image.py:182-191``): image source (JVM
    decode, BGR mode-16 rows) -> hoisted mode filter -> per-user
    grouped-map KMeans. The fixture design makes the correct output
    closed-form, so the DuckDB oracle hash-checks the EXACT JSON."""
    from .colors import color_palette

    work = tempfile.mkdtemp(prefix="png_palette_")
    try:
        _stage_png_store(work)
        imgs = (
            spark.read.format("image")
            .option("dropInvalid", True)
            .load(work)
            .select("image.*")
            .filter(F.col("mode") == 16)  # F13 hoisted, prunes before Python
            .select(
                F.regexp_extract(
                    F.element_at(F.split("origin", "/"), -1), r"u(\d+)_", 1
                ).cast("int").cast("string").alias("igId"),
                "origin",
                "height",
                "width",
                "mode",
                "nChannels",
                "data",
            )
        )
        return color_palette(imgs).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _palette_oracle() -> str:
    rows = ", ".join(
        f"({u}, '{_expected_palette_json(u)}')" for u in range(N_IMG_USERS)
    )
    return (
        "SELECT CAST(u AS VARCHAR) AS igId, c AS colors "
        f"FROM (VALUES {rows}) AS t(u, c)"
    )


IMAGE_DECODE_ORACLE_SQL = f"""
WITH users AS (SELECT unnest(range(0, {N_IMG_USERS})) AS u),
imgs AS (
  SELECT u, unnest(range(0, {COLORS_PER_USER})) AS j FROM users
)
SELECT printf('u%02d_c%d.png', u, j) AS img_name,
       {IMG_W} AS width,
       {IMG_H} AS height,
       true AS pixels_match
FROM imgs
UNION ALL
SELECT v AS img_name, {VARIANT_W} AS width, {VARIANT_H} AS height,
       true AS pixels_match
FROM (SELECT unnest(['v_gray.png', 'v_gray_i7.png', 'v_rgb_i7.png',
                     'v_pal.png', 'v_pal_i7.png']) AS v)
"""

COLOR_PALETTE_PNG_ORACLE_SQL = _palette_oracle()
