"""FLAC codec - pure-Python encoder (fixture writer) and decoder.

The lossless audio sibling of :mod:`.gif` on the image side: FLAC is
the standard lossless archive format an audio training corpus is
shipped in (LibriSpeech, MLS, Common Voice releases), so an audio
curation pipeline that only reads WAV stops one format short. No
audio library exists in this environment; everything below is built
from the public FLAC format specification (RFC 9639):

- bit-level MSB-first reader/writer;
- STREAMINFO metadata block (incl. the decoded-audio MD5 the decoder
  verifies - real end-to-end integrity, not just container fields);
- frame headers with UTF-8-coded frame numbers and CRC-8, frame
  CRC-16 (polynomial 0x8005);
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC (quantized
  integer coefficients + shift), wasted-bits field;
- inter-channel decorrelation: independent, left/side, right/side,
  mid/side (side channel carries the spec's extra bit);
- partitioned Rice residuals (orders 0-2 in the writer, any order in
  the reader) with zigzag signed mapping and the 0b11111 escape to
  raw two's-complement.

:func:`flac_decode_query` stages fixture streams covering every
variant above, decodes executor-side (binaryFile -> Arrow
``mapInPandas``, zero exchanges), and hash-checks sample content
against a closed-form oracle computed from the SOURCE sample arrays
- the oracle never runs the decoder, so the registry check is a true
encoder->decoder round trip. Corrupt streams raise ValueError (fuzz
contract in ``tests/test_binary_fuzz.py``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import struct
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# --- bit I/O (MSB-first) ---------------------------------------------------

class _BitW:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val: int, width: int) -> None:
        if width == 0:
            return
        self.acc = (self.acc << width) | (val & ((1 << width) - 1))
        self.n += width
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def put_unary(self, q: int) -> None:
        while q >= 32:
            self.put(0, 32)
            q -= 32
        self.put(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self.n:
            self.put(0, 8 - self.n)

    def bytes(self) -> bytes:
        if self.n:
            raise ValueError(f"{self.n} bits left unaligned")
        return bytes(self.buf)


class _BitR:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bit = pos * 8

    def take(self, width: int) -> int:
        end = self.bit + width
        if end > len(self.data) * 8:
            raise ValueError("FLAC bitstream truncated")
        out = 0
        bit = self.bit
        while width:
            byte = self.data[bit >> 3]
            avail = 8 - (bit & 7)
            use = min(avail, width)
            out = (out << use) | ((byte >> (avail - use)) & ((1 << use) - 1))
            bit += use
            width -= use
        self.bit = bit
        return out

    def take_unary(self) -> int:
        q = 0
        while True:
            if self.bit >= len(self.data) * 8:
                raise ValueError("FLAC unary run truncated")
            if self.take(1):
                return q
            q += 1
            if q > 1 << 20:
                raise ValueError("FLAC unary run unreasonably long")

    def take_signed(self, width: int) -> int:
        v = self.take(width)
        return v - (1 << width) if v >> (width - 1) else v

    def align(self) -> None:
        self.bit = (self.bit + 7) & ~7

    def byte_pos(self) -> int:
        return self.bit >> 3


# --- CRCs ------------------------------------------------------------------

def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _utf8_number(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (values beyond U+10FFFF
    allowed, up to 36 bits)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (5 * nbytes + 1)) and nbytes < 7:
        nbytes += 1
    prefix = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(prefix | (n >> shift))
    for i in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _read_utf8_number(br: _BitR) -> int:
    first = br.take(8)
    if first < 0x80:
        return first
    nbytes = 0
    mask = 0x80
    while first & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("bad FLAC coded number")
    n = first & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = br.take(8)
        if b & 0xC0 != 0x80:
            raise ValueError("bad FLAC coded-number continuation")
        n = (n << 6) | (b & 0x3F)
    return n


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

#: sample-size codes (bits -> 3-bit frame-header code)
_BPS_CODE = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6}
_BPS_FROM_CODE = {v: k for k, v in _BPS_CODE.items()}


# --- encoder (fixture writer) ----------------------------------------------

def _zigzag(e: np.ndarray) -> np.ndarray:
    return np.where(e >= 0, 2 * e, -2 * e - 1).astype(np.int64)


def _write_residual(bw: _BitW, resid: np.ndarray, pred_order: int,
                    block: int, part_order: int, escape: bool,
                    method: int = 0) -> None:
    """Partitioned Rice: coding method 0 (4-bit parameters, k <= 14)
    or method 1 (5-bit parameters, k <= 30 - the spec's path for
    high-bit-depth residuals)."""
    plen = 4 if method == 0 else 5
    kmax = (1 << plen) - 2
    bw.put(method, 2)
    bw.put(part_order, 4)
    nparts = 1 << part_order
    if block % nparts or block >> part_order <= pred_order and nparts > 1:
        raise ValueError("invalid partition order for fixture")
    start = 0
    for p in range(nparts):
        n = (block >> part_order) - (pred_order if p == 0 else 0)
        chunk = resid[start : start + n]
        start += n
        zz = _zigzag(chunk)
        if escape:
            raw_bits = max(2, int(max(abs(int(chunk.min(initial=0))),
                                      abs(int(chunk.max(initial=0)))).bit_length() + 1))
            bw.put((1 << plen) - 1, plen)
            bw.put(raw_bits, 5)
            for v in chunk:
                bw.put(int(v) & ((1 << raw_bits) - 1), raw_bits)
            continue
        mean = int(zz.mean()) if len(zz) else 0
        k = min(kmax, max(0, mean.bit_length() - 1))
        bw.put(k, plen)
        for v in zz:
            v = int(v)
            bw.put_unary(v >> k)
            bw.put(v, k)


def _write_subframe(bw: _BitW, x: np.ndarray, bps: int, kind: dict,
                    block: int) -> None:
    wasted = kind.get("wasted", 0)
    if wasted:
        if (x & ((1 << wasted) - 1)).any():
            raise ValueError("wasted-bits fixture requires shifted samples")
        x = x >> wasted
        bps -= wasted
    typ = kind["type"]
    if typ == "constant":
        bw.put(0, 1); bw.put(0, 6)
    elif typ == "verbatim":
        bw.put(0, 1); bw.put(1, 6)
    elif typ == "fixed":
        bw.put(0, 1); bw.put(8 | kind["order"], 6)
    else:  # lpc
        bw.put(0, 1); bw.put(0x20 | (kind["order"] - 1), 6)
    if wasted:
        bw.put(1, 1)
        bw.put_unary(wasted - 1)
    else:
        bw.put(0, 1)
    if typ == "constant":
        if (x != x[0]).any():
            raise ValueError("constant subframe over non-constant samples")
        bw.put(int(x[0]), bps)
        return
    if typ == "verbatim":
        for v in x:
            bw.put(int(v), bps)
        return
    order = kind["order"]
    for v in x[:order]:  # warmup
        bw.put(int(v), bps)
    if typ == "fixed":
        coefs = _FIXED_COEFS[order]
        shift = 0
    else:
        coefs = kind["coefs"]
        shift = kind["shift"]
        prec = kind.get("precision", 12)
        bw.put(prec - 1, 4)
        bw.put(shift, 5)
        for c in coefs:
            bw.put(int(c), prec)
    hist = x.astype(np.int64)
    pred = np.zeros(len(x), dtype=np.int64)
    for j, c in enumerate(coefs):
        pred[order:] += c * hist[order - 1 - j : len(x) - 1 - j]
    resid = (hist - (pred >> shift if typ == "lpc" else pred))[order:]
    _write_residual(
        bw, resid, order, block, kind.get("part_order", 0),
        kind.get("escape", False), kind.get("method", 0),
    )


def make_flac(
    samples: np.ndarray,
    rate: int = 44100,
    bps: int = 16,
    block: int = 256,
    mode: str = "independent",
    subframe: dict | None = None,
) -> bytes:
    """FLAC fixture writer. ``samples``: (n, channels) int array;
    ``mode``: independent | left_side | right_side | mid_side;
    ``subframe``: {"type": constant|verbatim|fixed|lpc, "order": k,
    "coefs"/"shift"/"precision", "part_order", "escape", "wasted"} -
    applied to every subframe (warmup/constant constraints are the
    caller's job)."""
    subframe = subframe or {"type": "fixed", "order": 2}
    n, ch = samples.shape
    md5 = hashlib.md5()
    width = bps // 8
    inter = samples.astype(np.int64)
    for i in range(n):
        for c in range(ch):
            md5.update(int(inter[i, c]).to_bytes(width, "little", signed=True))
    out = bytearray(b"fLaC")
    si = _BitW()
    si.put(block, 16); si.put(block, 16)
    si.put(0, 24); si.put(0, 24)  # frame sizes unknown
    si.put(rate, 20); si.put(ch - 1, 3); si.put(bps - 1, 5)
    si.put(n, 36)
    si.align()
    si_bytes = si.bytes() + md5.digest()
    out += bytes([0x80, 0, 0, len(si_bytes)]) + si_bytes  # last-block flag
    for fno, start in enumerate(range(0, n, block)):
        blk = inter[start : start + block]
        bn = len(blk)
        hdr = _BitW()
        hdr.put(0b11111111111110, 14)
        hdr.put(0, 1); hdr.put(0, 1)  # reserved, fixed blocking
        hdr.put(0b0111, 4)  # block size: 16-bit field follows
        hdr.put(0, 4)  # sample rate: from STREAMINFO
        if mode == "independent":
            chan_code = ch - 1
        else:
            chan_code = {"left_side": 8, "right_side": 9, "mid_side": 10}[mode]
            if ch != 2:
                raise ValueError("decorrelation modes need stereo")
        hdr.put(chan_code, 4)
        hdr.put(_BPS_CODE[bps], 3)
        hdr.put(0, 1)
        hdr.align()
        head = hdr.bytes() + _utf8_number(fno) + struct.pack(">H", bn - 1)
        head += bytes([_crc8(head)])
        bw = _BitW()
        if mode == "independent":
            chans = [blk[:, c] for c in range(ch)]
            depths = [bps] * ch
        else:
            left = blk[:, 0]
            right = blk[:, 1]
            side = left - right
            if mode == "left_side":
                chans, depths = [left, side], [bps, bps + 1]
            elif mode == "right_side":
                chans, depths = [side, right], [bps + 1, bps]
            else:
                mid = (left + right) >> 1
                chans, depths = [mid, side], [bps, bps + 1]
        for cx, cbps in zip(chans, depths):
            _write_subframe(bw, cx.astype(np.int64), cbps, subframe, bn)
        bw.align()
        frame = head + bw.bytes()
        frame += struct.pack(">H", _crc16(frame))
        out += frame
    return bytes(out)


# --- decoder ---------------------------------------------------------------

FLAC_MAX_SAMPLES = 1 << 26  # allocation guard


def flac_meta(payload: bytes) -> tuple[int, int, int, int]:
    """(channels, sample_rate, bits_per_sample, total_samples) from
    STREAMINFO."""
    info = _parse_metadata(payload)[0]
    return info["channels"], info["rate"], info["bps"], info["total"]


def _parse_metadata(payload: bytes) -> tuple[dict, int]:
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata")
        hdr = payload[pos]
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if len(body) != size:
            raise ValueError("truncated FLAC metadata block")
        if hdr & 0x7F == 0:
            if size < 34:
                raise ValueError("short STREAMINFO")
            br = _BitR(body)
            br.take(16); br.take(16); br.take(24); br.take(24)
            rate = br.take(20)
            ch = br.take(3) + 1
            bps = br.take(5) + 1
            total = br.take(36)
            info = {
                "rate": rate, "channels": ch, "bps": bps, "total": total,
                "md5": body[18:34],
            }
        pos += 4 + size
        if hdr & 0x80:
            break
    if info is None:
        raise ValueError("missing STREAMINFO")
    if info["total"] > FLAC_MAX_SAMPLES:
        raise ValueError("hostile/corrupt FLAC total_samples")
    return info, pos


def _read_residual(br: _BitR, block: int, order: int) -> np.ndarray:
    method = br.take(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    part_order = br.take(4)
    nparts = 1 << part_order
    if block % nparts or (block >> part_order) <= order and nparts > 1:
        raise ValueError("invalid Rice partition order")
    if nparts == 1 and block <= order:
        raise ValueError("invalid Rice partition order")
    out = np.empty(block - order, dtype=np.int64)
    w = 0
    for p in range(nparts):
        n = (block >> part_order) - (order if p == 0 else 0)
        k = br.take(plen)
        if k == escape:
            raw = br.take(5)
            for i in range(n):
                out[w + i] = br.take_signed(raw) if raw else 0
        else:
            for i in range(n):
                q = br.take_unary()
                v = (q << k) | br.take(k)
                out[w + i] = (v >> 1) if v & 1 == 0 else -((v + 1) >> 1)
        w += n
    return out


def _read_subframe(br: _BitR, block: int, bps: int) -> np.ndarray:
    if br.take(1):
        raise ValueError("subframe padding bit set")
    typ = br.take(6)
    wasted = 0
    if br.take(1):
        wasted = br.take_unary() + 1
        bps -= wasted
        if bps <= 0:
            raise ValueError("wasted bits exceed sample depth")
    if typ == 0:
        x = np.full(block, br.take_signed(bps), dtype=np.int64)
    elif typ == 1:
        x = np.array([br.take_signed(bps) for _ in range(block)], dtype=np.int64)
    elif 8 <= typ <= 12:
        order = typ - 8
        x = _predict(br, block, bps, order, lpc=False)
    elif typ >= 0x20:
        x = _predict(br, block, bps, (typ & 0x1F) + 1, lpc=True)
    else:
        raise ValueError(f"reserved subframe type {typ}")
    return x << wasted if wasted else x


def _predict(br: _BitR, block: int, bps: int, order: int, lpc: bool) -> np.ndarray:
    """Warmup samples come FIRST in both fixed and LPC subframes; the
    LPC coefficient block (precision, shift, coefficients) follows the
    warmup, then the residual."""
    if order > block:
        raise ValueError("predictor order exceeds block size")
    x = np.empty(block, dtype=np.int64)
    for i in range(order):
        x[i] = br.take_signed(bps)
    if lpc:
        prec = br.take(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision code")
        shift = br.take(5)
        coefs = [br.take_signed(prec) for _ in range(order)]
    else:
        coefs, shift = _FIXED_COEFS[order], 0
    resid = _read_residual(br, block, order)
    for i in range(order, block):
        acc = 0
        for j, c in enumerate(coefs):
            acc += c * int(x[i - 1 - j])
        x[i] = int(resid[i - order]) + (acc >> shift)
    return x


def flac_pcm(payload: bytes, verify_md5: bool = True) -> np.ndarray:
    """Decode every frame -> (n_samples, channels) int32 array.
    Verifies each frame's CRC-8/CRC-16 and (by default) the decoded
    stream's MD5 against STREAMINFO - a real end-to-end integrity
    check. Corrupt streams raise ValueError."""
    try:
        return _flac_pcm_impl(payload, verify_md5)
    except (IndexError, struct.error) as e:
        raise ValueError(f"corrupt FLAC stream ({type(e).__name__})") from e


def _flac_pcm_impl(payload: bytes, verify_md5: bool) -> np.ndarray:
    info, pos = _parse_metadata(payload)
    ch, bps, total = info["channels"], info["bps"], info["total"]
    chunks: list[np.ndarray] = []
    got = 0
    while got < total:
        if pos + 5 > len(payload):
            raise ValueError("FLAC stream ended mid-frame")
        br = _BitR(payload, pos)
        if br.take(14) != 0b11111111111110:
            raise ValueError("bad frame sync")
        br.take(1)
        br.take(1)
        bs_code = br.take(4)
        sr_code = br.take(4)
        chan_code = br.take(4)
        bps_code = br.take(3)
        if br.take(1):
            raise ValueError("frame header reserved bit set")
        _read_utf8_number(br)
        if bs_code == 6:
            block = br.take(8) + 1
        elif bs_code == 7:
            block = br.take(16) + 1
        elif bs_code == 1:
            block = 192
        elif 2 <= bs_code <= 5:
            block = 576 << (bs_code - 2)
        elif bs_code >= 8:
            block = 256 << (bs_code - 8)
        else:
            raise ValueError("reserved block size code")
        if sr_code == 12:
            br.take(8)
        elif sr_code in (13, 14):
            br.take(16)
        elif sr_code == 15:
            raise ValueError("invalid sample rate code")
        fbps = bps if bps_code == 0 else _BPS_FROM_CODE.get(bps_code)
        if fbps is None:
            raise ValueError("reserved sample size code")
        hdr_end = br.byte_pos()
        if _crc8(payload[pos:hdr_end]) != br.take(8):
            raise ValueError("frame header CRC-8 mismatch")
        if chan_code < 8:
            nch = chan_code + 1
            if nch != ch:
                raise ValueError("frame/STREAMINFO channel mismatch")
            cols = [_read_subframe(br, block, fbps) for _ in range(nch)]
            frame = np.stack(cols, axis=-1)
        elif chan_code <= 10:
            if ch != 2:
                raise ValueError("decorrelated frame in non-stereo stream")
            if chan_code == 8:  # left/side
                left = _read_subframe(br, block, fbps)
                side = _read_subframe(br, block, fbps + 1)
                right = left - side
                frame = np.stack([left, right], axis=-1)
            elif chan_code == 9:  # right/side
                side = _read_subframe(br, block, fbps + 1)
                right = _read_subframe(br, block, fbps)
                frame = np.stack([right + side, right], axis=-1)
            else:  # mid/side
                mid = _read_subframe(br, block, fbps)
                side = _read_subframe(br, block, fbps + 1)
                mid2 = (mid << 1) | (side & 1)
                frame = np.stack([(mid2 + side) >> 1, (mid2 - side) >> 1], axis=-1)
        else:
            raise ValueError("reserved channel assignment")
        br.align()
        crc_end = br.byte_pos()
        stored = struct.unpack(">H", payload[crc_end : crc_end + 2])[0]
        if _crc16(payload[pos:crc_end]) != stored:
            raise ValueError("frame CRC-16 mismatch")
        pos = crc_end + 2
        if got + block > total:
            frame = frame[: total - got]
        chunks.append(frame)
        got += len(frame)
    out = np.concatenate(chunks) if chunks else np.zeros((0, ch), dtype=np.int64)
    if verify_md5 and info["md5"] != b"\0" * 16:
        md5 = hashlib.md5()
        width = bps // 8
        for i in range(len(out)):
            for c in range(ch):
                md5.update(int(out[i, c]).to_bytes(width, "little", signed=True))
        if md5.digest() != info["md5"]:
            raise ValueError("decoded-audio MD5 mismatch")
    return out.astype(np.int32)


# --- registry query --------------------------------------------------------

def _lcg_samples(n: int, ch: int, bps: int, seed: int,
                 smooth: bool = False, wasted: int = 0) -> np.ndarray:
    """Seeded integer samples; ``smooth`` integrates the stream twice
    (bounded) so fixed/LPC predictors see realistic small residuals."""
    mask = (1 << 64) - 1
    state = (seed * 6364136223846793005 + 1442695040888963407) & mask
    lim = 1 << (bps - 1 - wasted)
    out = np.empty((n, ch), dtype=np.int64)
    prev = np.zeros(ch, dtype=np.int64)
    for i in range(n):
        for c in range(ch):
            state = (state * 6364136223846793005 + 1442695040888963407) & mask
            step = (state >> 33) % (lim // 2 if smooth else 2 * lim)
            if smooth:
                v = (prev[c] + step - lim // 4) % (2 * lim) - lim
                prev[c] = v
            else:
                v = step - lim
            out[i, c] = v
    return out << wasted


def _flac_fixtures() -> list[tuple[str, np.ndarray, int, int, int, str, dict]]:
    """(name, samples, rate, bps, block, mode, subframe): covers every
    subframe type, all four channel assignments, Rice partition
    orders 0-2, the escape hatch, wasted bits, and multi-frame
    streams with a short final block."""
    out = []
    specs = [
        ("fixed2_ind", 2, 16, 256, "independent",
         {"type": "fixed", "order": 2, "part_order": 2}, True, 0),
        ("fixed0_mono", 1, 16, 192, "independent",
         {"type": "fixed", "order": 0}, False, 0),
        ("fixed4_ms", 2, 16, 128, "mid_side",
         {"type": "fixed", "order": 4, "part_order": 1}, True, 0),
        ("lpc_ls", 2, 16, 256, "left_side",
         {"type": "lpc", "order": 3, "coefs": [3, -2, 1], "shift": 1,
          "precision": 6, "part_order": 2}, True, 0),
        ("lpc_rs", 2, 8, 64, "right_side",
         {"type": "lpc", "order": 2, "coefs": [50, -20], "shift": 5,
          "precision": 8}, True, 0),
        ("verbatim", 2, 16, 64, "independent", {"type": "verbatim"}, False, 0),
        ("escape", 1, 16, 128, "independent",
         {"type": "fixed", "order": 1, "escape": True}, False, 0),
        ("wasted", 1, 16, 96, "independent",
         {"type": "fixed", "order": 2, "wasted": 3}, True, 3),
        ("bps24", 2, 24, 128, "mid_side",
         {"type": "fixed", "order": 3, "part_order": 1, "method": 1}, True, 0),
    ]
    for i, (tag, ch, bps, block, mode, sub, smooth, wasted) in enumerate(specs):
        n = block * 2 + block // 2  # 2.5 blocks -> short final frame
        samples = _lcg_samples(n, ch, bps, seed=11 * i + 1,
                               smooth=smooth, wasted=wasted)
        rate = (8000, 16000, 44100)[i % 3]
        out.append((f"f{i}_{tag}.flac", samples, rate, bps, block, mode, sub))
    # constant subframe needs constant samples
    const = np.full((300, 2), -1234, dtype=np.int64)
    out.append(
        ("f9_const.flac", const, 22050, 16, 128, "independent",
         {"type": "constant"})
    )
    return out


def _stage_flac_store(root: str) -> None:
    for name, samples, rate, bps, block, mode, sub in _flac_fixtures():
        with open(os.path.join(root, name), "wb") as f:
            f.write(make_flac(samples, rate, bps, block, mode, sub))


FLAC_DECODE_SCHEMA = (
    "clip_name string, channels int, sample_rate int, bits int, "
    "n_samples long, peak long, sample_sum long, md5_ok int"
)


def flac_decode_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: full FLAC decode executor-side with CRC and
    STREAMINFO-MD5 verification; exact integer folds over the decoded
    samples against a closed-form source-array oracle."""
    work = tempfile.mkdtemp(prefix="flac_store_")
    try:
        _stage_flac_store(work)
        bin_df = spark.read.format("binaryFile").load(work).select(
            F.element_at(F.split("path", "/"), -1).alias("clip_name"),
            F.col("content").alias("payload"),
        )

        def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cols = [c.split(" ")[0] for c in FLAC_DECODE_SCHEMA.split(", ")]
            for pdf in batches:
                rows = []
                for name, p in zip(pdf["clip_name"], pdf["payload"]):
                    ch, rate, bps, total = flac_meta(p)
                    pcm = flac_pcm(p)  # raises on CRC/MD5 mismatch
                    v = pcm.astype(np.int64)
                    rows.append(
                        (
                            name, ch, rate, bps, total,
                            int(np.abs(v).max()), int(v.sum()), 1,
                        )
                    )
                yield pd.DataFrame(rows, columns=cols)

        out = bin_df.mapInPandas(decode_batches, FLAC_DECODE_SCHEMA)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _flac_oracle() -> str:
    rows = []
    for name, samples, rate, bps, _block, _mode, _sub in _flac_fixtures():
        v = samples.astype(np.int64)
        rows.append(
            "('{}', {}, {}, {}, {}, {}, {}, 1)".format(
                name, samples.shape[1], rate, bps, len(samples),
                int(np.abs(v).max()), int(v.sum()),
            )
        )
    cols = ", ".join(c.split(" ")[0] for c in FLAC_DECODE_SCHEMA.split(", "))
    return f"SELECT {cols} FROM (VALUES {', '.join(rows)}) AS t({cols})"


FLAC_DECODE_ORACLE_SQL = _flac_oracle()
