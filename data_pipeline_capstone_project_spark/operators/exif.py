"""EXIF metadata extraction from JPEG APP1 segments, from the
published specs (JEITA CP-3451 / EXIF 2.3; TIFF 6.0, Adobe 1992).

Image-curation relevance: orientation (the field every training
pipeline must honor before resizing - a value of 6/8 means the pixel
array is rotated), capture dimensions, and camera provenance
(make/model/datetime) used for dedup heuristics and provenance
filters. The reference pipeline stores Instagram JPEGs
(s3Posts-to-ES-lambda media path); phone-camera JPEGs carry exactly
these APP1 records.

Implemented, all from the specs:

* JPEG marker walk to APP1 (0xFFE1) with the ``Exif\\0\\0`` preamble
  (skipping other APPn/COM segments by length);
* TIFF structure: byte-order mark (``II`` little / ``MM`` big -
  BOTH covered by fixtures), magic 42, IFD chains; 12-byte IFD
  entries (tag, type, count, value-or-offset) with the inline-vs-
  offset rule (values <= 4 bytes live in the entry);
* field types: ASCII (NUL-terminated, offset-stored when > 4),
  SHORT, LONG, RATIONAL (two LONGs at offset);
* IFD0 -> Exif-sub-IFD via the 0x8769 pointer tag.

Spark side (``exif_meta`` registry entry): staged JPEG store (real
baseline JPEGs from :mod:`operators.jpeg` with the APP1 segment
spliced after SOI, still fully decodable) -> binaryFile ->
``mapInPandas`` -> one row per file; closed-form VALUES oracle from
the construction parameters, parser asserted against it at build
time (the scheme every media entry uses).
"""

from __future__ import annotations

import os
import shutil
import struct
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .jpeg import make_jpeg


class ExifError(ValueError):
    """Malformed JPEG/APP1/TIFF structure."""


# TIFF field types used here
_ASCII, _SHORT, _LONG, _RATIONAL = 2, 3, 4, 5
_TYPE_SIZE = {_ASCII: 1, _SHORT: 2, _LONG: 4, _RATIONAL: 8}

# tags (EXIF 2.3 / TIFF 6.0)
T_MAKE = 0x010F
T_MODEL = 0x0110
T_ORIENTATION = 0x0112
T_DATETIME = 0x0132
T_EXIF_IFD = 0x8769
T_EXPOSURE = 0x829A
T_FNUMBER = 0x829D
T_ISO = 0x8827
T_PIXEL_X = 0xA002
T_PIXEL_Y = 0xA003


# --- TIFF write ---------------------------------------------------------------


def _build_ifd(
    entries: list[tuple[int, int, int, bytes | int]],
    ifd_off: int,
    endian: str,
    next_ifd: int = 0,
) -> tuple[bytes, bytes]:
    """(ifd bytes, out-of-line data bytes). ``entries`` are
    (tag, type, count, value) with ``value`` an int for inline
    numerics or raw bytes for payloads; payloads > 4 bytes are stored
    after the IFD and pointed to."""
    e = endian
    data = bytearray()
    data_base = ifd_off + 2 + 12 * len(entries) + 4
    body = bytearray(struct.pack(e + "H", len(entries)))
    for tag, typ, count, value in sorted(entries):
        body += struct.pack(e + "HHI", tag, typ, count)
        if isinstance(value, int):
            size = _TYPE_SIZE[typ] * count
            fmt = {_SHORT: "H", _LONG: "I"}[typ]
            packed = struct.pack(e + fmt, value)
            if size > 4:
                raise ValueError(f"tag {tag}: {size}-byte value cannot be inline")
            body += packed + b"\x00" * (4 - len(packed))
        else:
            if len(value) <= 4:
                body += value.ljust(4, b"\x00")
            else:
                body += struct.pack(e + "I", data_base + len(data))
                data += value
    body += struct.pack(e + "I", next_ifd)
    return bytes(body), bytes(data)


def make_exif_app1(
    orientation: int,
    make: str,
    model: str,
    datetime: str,
    width: int,
    height: int,
    iso: int,
    f_number: tuple[int, int],
    exposure: tuple[int, int],
    big_endian: bool = False,
) -> bytes:
    """A complete APP1 segment (marker + length + Exif preamble +
    TIFF with IFD0 and an Exif sub-IFD)."""
    e = ">" if big_endian else "<"

    def rational(num: int, den: int) -> bytes:
        return struct.pack(e + "II", num, den)

    def ascii_z(s: str) -> bytes:
        return s.encode() + b"\x00"

    # layout: header(8) | IFD0 | IFD0 data | ExifIFD | Exif data
    # two-pass: measure IFD0 with a placeholder Exif pointer first.
    def build(exif_ptr: int) -> tuple[bytes, bytes]:
        return _build_ifd(
            [
                (T_MAKE, _ASCII, len(ascii_z(make)), ascii_z(make)),
                (T_MODEL, _ASCII, len(ascii_z(model)), ascii_z(model)),
                (T_ORIENTATION, _SHORT, 1, orientation),
                (T_DATETIME, _ASCII, len(ascii_z(datetime)), ascii_z(datetime)),
                (T_EXIF_IFD, _LONG, 1, exif_ptr),
            ],
            8,
            e,
        )

    ifd0_probe, data0_probe = build(0)
    exif_off = 8 + len(ifd0_probe) + len(data0_probe)
    ifd0, data0 = build(exif_off)
    if (len(ifd0), len(data0)) != (len(ifd0_probe), len(data0_probe)):
        raise RuntimeError("IFD0 layout changed with its EXIF offset")
    exif_ifd, exif_data = _build_ifd(
        [
            (T_EXPOSURE, _RATIONAL, 1, rational(*exposure)),
            (T_FNUMBER, _RATIONAL, 1, rational(*f_number)),
            (T_ISO, _SHORT, 1, iso),
            (T_PIXEL_X, _LONG, 1, width),
            (T_PIXEL_Y, _LONG, 1, height),
        ],
        exif_off,
        e,
    )
    tiff = (
        (b"MM" if big_endian else b"II")
        + struct.pack(e + "HI", 42, 8)
        + ifd0 + data0 + exif_ifd + exif_data
    )
    payload = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload


def make_exif_jpeg(frame: np.ndarray, **exif_kw) -> bytes:
    """A real decodable baseline JPEG with the APP1 segment spliced
    directly after SOI (the position cameras write it)."""
    base = make_jpeg(frame)
    if base[:2] != b"\xff\xd8":
        raise ExifError("not a JPEG from make_jpeg")
    return base[:2] + make_exif_app1(**exif_kw) + base[2:]


# --- parse ----------------------------------------------------------------------


def _find_app1(buf: bytes) -> bytes:
    if buf[:2] != b"\xff\xd8":
        raise ExifError("not a JPEG (no SOI)")
    pos = 2
    n = len(buf)
    while pos + 4 <= n:
        if buf[pos] != 0xFF:
            raise ExifError(f"bad marker alignment at {pos}")
        marker = buf[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xDA:  # SOS: entropy data follows, no APP1 later
            break
        (seg_len,) = struct.unpack_from(">H", buf, pos + 2)
        if marker == 0xE1 and buf[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return buf[pos + 10 : pos + 2 + seg_len]
        pos += 2 + seg_len
    raise ExifError("no Exif APP1 segment")


def _read_ifd(tiff: bytes, off: int, e: str) -> dict[int, tuple[int, int, bytes]]:
    if off + 2 > len(tiff):
        raise ExifError("IFD offset out of range")
    (count,) = struct.unpack_from(e + "H", tiff, off)
    out: dict[int, tuple[int, int, bytes]] = {}
    for i in range(count):
        base = off + 2 + 12 * i
        if base + 12 > len(tiff):
            raise ExifError("IFD entry out of range")
        tag, typ, n = struct.unpack_from(e + "HHI", tiff, base)
        if typ not in _TYPE_SIZE:
            continue  # unknown type: skip (TIFF readers must tolerate)
        size = _TYPE_SIZE[typ] * n
        if size <= 4:
            raw = tiff[base + 8 : base + 8 + size]
        else:
            (ptr,) = struct.unpack_from(e + "I", tiff, base + 8)
            if ptr + size > len(tiff):
                raise ExifError(f"tag 0x{tag:04x} value overruns TIFF")
            raw = tiff[ptr : ptr + size]
        out[tag] = (typ, n, raw)
    return out


def _as_int(e: str, entry: tuple[int, int, bytes]) -> int:
    typ, _n, raw = entry
    return struct.unpack_from(e + {_SHORT: "H", _LONG: "I"}[typ], raw)[0]


def _as_str(entry: tuple[int, int, bytes]) -> str:
    return entry[2].split(b"\x00")[0].decode("ascii", errors="strict")


def _as_rational(e: str, entry: tuple[int, int, bytes]) -> tuple[int, int]:
    num, den = struct.unpack_from(e + "II", entry[2])
    return num, den


def exif_meta(payload: bytes) -> dict:
    """JPEG bytes -> EXIF fields (None for absent tags)."""
    tiff = _find_app1(payload)
    bom = tiff[:2]
    if bom == b"II":
        e = "<"
    elif bom == b"MM":
        e = ">"
    else:
        raise ExifError(f"bad TIFF byte-order mark {bom!r}")
    magic, ifd0_off = struct.unpack_from(e + "HI", tiff, 2)
    if magic != 42:
        raise ExifError(f"TIFF magic {magic} != 42")
    ifd0 = _read_ifd(tiff, ifd0_off, e)
    sub: dict = {}
    if T_EXIF_IFD in ifd0:
        sub = _read_ifd(tiff, _as_int(e, ifd0[T_EXIF_IFD]), e)

    def get(ifd: dict, tag: int, conv):
        return conv(ifd[tag]) if tag in ifd else None

    f_num = get(sub, T_FNUMBER, lambda v: _as_rational(e, v))
    expo = get(sub, T_EXPOSURE, lambda v: _as_rational(e, v))
    return {
        "byte_order": "II" if e == "<" else "MM",
        "orientation": get(ifd0, T_ORIENTATION, lambda v: _as_int(e, v)),
        "make": get(ifd0, T_MAKE, _as_str),
        "model": get(ifd0, T_MODEL, _as_str),
        "datetime": get(ifd0, T_DATETIME, _as_str),
        "exif_width": get(sub, T_PIXEL_X, lambda v: _as_int(e, v)),
        "exif_height": get(sub, T_PIXEL_Y, lambda v: _as_int(e, v)),
        "iso": get(sub, T_ISO, lambda v: _as_int(e, v)),
        "f_number_num": f_num[0] if f_num else None,
        "f_number_den": f_num[1] if f_num else None,
        "exposure_num": expo[0] if expo else None,
        "exposure_den": expo[1] if expo else None,
    }


# --- fixtures + registry query ---------------------------------------------------

#: (file name, exif kwargs). Frames are deterministic gradients; the
#: APP1 values below ARE the expected metadata (construction==oracle).
_FIXTURES: list[tuple[str, dict]] = [
    ("cam_landscape.jpg", dict(
        orientation=1, make="Acme", model="A-100",
        datetime="2024:01:15 10:30:00", width=64, height=48, iso=100,
        f_number=(28, 10), exposure=(1, 125))),
    ("cam_rotated90.jpg", dict(
        orientation=6, make="Acme", model="A-200 Pro",
        datetime="2024:03:02 18:05:59", width=48, height=64, iso=800,
        f_number=(18, 10), exposure=(1, 30))),
    ("cam_rotated270_mm.jpg", dict(
        orientation=8, make="Bolt Imaging", model="BX",
        datetime="2023:12:31 23:59:59", width=64, height=64, iso=3200,
        f_number=(95, 50), exposure=(10, 2500), big_endian=True)),
    ("cam_flipped_mm.jpg", dict(
        orientation=2, make="C", model="u2",  # 1- and 2-byte ASCII:
        # both inline (<= 4 bytes with NUL) - the in-entry value path
        datetime="2022:06:01 00:00:01", width=32, height=32, iso=50,
        f_number=(4, 1), exposure=(2, 1), big_endian=True)),
]


def _frame(i: int) -> np.ndarray:
    h, w = 16 + 8 * i, 24 + 8 * i
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 3 + i) % 256, (y * 5 + 2 * i) % 256, (x + y) % 256], axis=-1
    ).astype(np.uint8)


def _stage_exif_store(root: str) -> None:
    for i, (name, kw) in enumerate(_FIXTURES):
        with open(os.path.join(root, name), "wb") as f:
            f.write(make_exif_jpeg(_frame(i), **kw))


_COLS = [
    "file_name", "byte_order", "orientation", "make", "model", "datetime",
    "exif_width", "exif_height", "iso", "f_number_num", "f_number_den",
    "exposure_num", "exposure_den",
]

_SCHEMA = (
    "file_name string, byte_order string, orientation int, make string, "
    "model string, datetime string, exif_width int, exif_height int, "
    "iso int, f_number_num int, f_number_den int, exposure_num int, "
    "exposure_den int"
)


def exif_meta_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: staged camera-JPEG store -> binaryFile ->
    mapInPandas -> one EXIF row per file (zero-shuffle media-store
    scan)."""
    work = tempfile.mkdtemp(prefix="exif_store_")
    try:
        _stage_exif_store(work)
        bin_df = spark.read.format("binaryFile").load(work).select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("content").alias("payload"),
        )

        def parse_batches(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = [
                    {"file_name": name, **exif_meta(bytes(p))}
                    for name, p in zip(pdf["file_name"], pdf["payload"])
                ]
                yield pd.DataFrame(out)[_COLS]

        out = bin_df.mapInPandas(parse_batches, _SCHEMA)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _exif_oracle() -> str:
    rows = []
    for i, (name, kw) in enumerate(_FIXTURES):
        want = {
            "file_name": name,
            "byte_order": "MM" if kw.get("big_endian") else "II",
            "orientation": kw["orientation"],
            "make": kw["make"],
            "model": kw["model"],
            "datetime": kw["datetime"],
            "exif_width": kw["width"],
            "exif_height": kw["height"],
            "iso": kw["iso"],
            "f_number_num": kw["f_number"][0],
            "f_number_den": kw["f_number"][1],
            "exposure_num": kw["exposure"][0],
            "exposure_den": kw["exposure"][1],
        }
        got = {"file_name": name, **exif_meta(make_exif_jpeg(_frame(i), **kw))}
        if got != want:
            raise AssertionError(f"{name}: parsed {got!r} != {want!r}")
        rows.append(
            "(" + ", ".join(
                f"'{want[c]}'" if isinstance(want[c], str) else str(want[c])
                for c in _COLS
            ) + ")"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS t(" + ", ".join(_COLS) + ")"
    )


EXIF_META_ORACLE_SQL = _exif_oracle()
