"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The decode path is REAL for three public container formats parsable with
pure Python + numpy (no external media libraries — the container has
none):

- PPM (P6) images, and PPM-stream "videos" (concatenated frames);
- BMP images (uncompressed 24-bit BI_RGB, the Windows bitmap baseline) —
  bottom-up row order and 4-byte row padding handled;
- PNG images (stdlib zlib inflate + numpy scanline unfiltering — 8-bit
  gray/RGB/palette/gray-alpha/RGBA, filters None/Sub/Up/Average/Paeth;
  Adam7 interlace and 16-bit depth fall through);
- JPEG images (baseline sequential SOF0 AND progressive SOF2 in pure
  numpy — Huffman entropy decode, spectral selection + successive
  approximation with EOBn end-of-band runs and the G.1.2.3 correction-
  bit refinement, dequant, 8x8 IDCT, chroma upsampling for sampling
  factors in 1..2, DRI/RSTn restarts, YCbCr→RGB; arithmetic coding,
  12-bit, lossless, and hierarchical fall through);
- WAV audio (RIFF, PCM 8/16/32-bit int and IEEE float32/64, extensible
  fmt via SubFormat GUID) — multi-channel payloads are mono-mixed.

Feature extraction, nearest-neighbor resize, and frame sampling operate on
actual decoded pixels/samples; resize re-encodes in the INPUT's codec
(PPM→PPM, BMP→BMP, PNG→PNG, JPEG→JPEG). Payloads in none of these formats
(e.g. the text-derived testdata bytes) fall back to a clearly-marked
deterministic fake, keeping the Arrow plumbing exercised for arbitrary
media bytes whose codecs (mp4 / mp3) would require ffmpeg.

Scale design: mapInPandas streams Arrow batches; per-batch work is bounded
by spark.sql.execution.arrow.maxRecordsPerBatch, so executor memory stays
flat regardless of partition size.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# PPM (P6) codec — the binary image format writable/parsable in pure Python
# ---------------------------------------------------------------------------


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a binary PPM (P6) image."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) pixels, got {arr.shape}")
    h, w = arr.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + arr.tobytes()


def _parse_ppm_header(payload: bytes) -> tuple[int, int, int] | None:
    """Parse a P6 header; returns (width, height, pixel_data_offset) or None
    if the payload is not a binary PPM."""
    if not payload.startswith(b"P6"):
        return None
    pos, fields = 2, []
    n = len(payload)
    while len(fields) < 3 and pos < n:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment line
            while pos < n and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        try:
            fields.append(int(payload[start:pos]))
        except ValueError:
            return None
    if len(fields) < 3 or fields[2] != 255:
        return None
    pos += 1  # the single whitespace byte after maxval
    width, height = fields[0], fields[1]
    if width <= 0 or height <= 0 or pos + width * height * 3 > n:
        return None
    return width, height, pos


def decode_ppm(payload: bytes) -> np.ndarray | None:
    """Decode a binary PPM (P6) payload to an (h, w, 3) uint8 array, or None
    when the payload is not PPM (caller falls back to the fake path)."""
    header = _parse_ppm_header(payload)
    if header is None:
        return None
    width, height, offset = header
    pixels = np.frombuffer(
        payload, dtype=np.uint8, count=width * height * 3, offset=offset
    )
    return pixels.reshape(height, width, 3)


def split_ppm_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated-PPM "video" payload into its frames. Returns []
    when the payload is not a PPM stream."""
    frames: list[bytes] = []
    pos = 0
    while pos < len(payload):
        header = _parse_ppm_header(payload[pos:])
        if header is None:
            return []
        width, height, offset = header
        end = pos + offset + width * height * 3
        frames.append(payload[pos:end])
        pos = end
    return frames


# ---------------------------------------------------------------------------
# BMP codec — uncompressed 24-bit BI_RGB (the bitmap baseline every OS
# writes); bottom-up rows, 4-byte row padding
# ---------------------------------------------------------------------------


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, bottom-up, BGR byte order, rows padded to 4 bytes)."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) pixels, got {arr.shape}")
    h, w = arr.shape[:2]
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB→BGR
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + img_size, 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return header + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray | None:
    """Decode an uncompressed 24-bit BI_RGB BMP to an (h, w, 3) uint8 RGB
    array, or None when the payload is not such a BMP (other bit depths /
    compressions fall through to the fake path like any foreign codec)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        return None
    pixel_offset = struct.unpack_from("<I", payload, 10)[0]
    header_size = struct.unpack_from("<I", payload, 14)[0]
    if header_size < 40:  # BITMAPCOREHEADER etc. — not the baseline form
        return None
    width, height = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0 or width <= 0 or height == 0:
        return None
    flip = height > 0  # positive height = bottom-up storage
    height = abs(height)
    row_size = (width * 3 + 3) & ~3
    if pixel_offset + row_size * height > len(payload):
        return None
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * height, offset=pixel_offset
    ).reshape(height, row_size)
    bgr = rows[:, : width * 3].reshape(height, width, 3)
    rgb = bgr[:, :, ::-1]
    return rgb[::-1] if flip else rgb


# ---------------------------------------------------------------------------
# PNG codec — pure stdlib zlib + numpy (no PIL): 8-bit gray / RGB /
# palette / gray+alpha / RGBA, non-interlaced; scanline filters 0-4
# implemented both directions (RFC 2083 §6)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: samples per pixel by PNG color type (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Vectorized Paeth predictor (RFC 2083 §6.6) over widened-int arrays:
    nearest of (left, up, upper-left) to left+up-upper_left, ties in that
    order."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def encode_png(pixels: np.ndarray, filter_type: int = 0) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit non-interlaced
    truecolor PNG. ``filter_type`` (0=None, 1=Sub, 2=Up, 3=Average,
    4=Paeth) selects the per-scanline filter — all five forward filters
    are implemented so round-trip property tests can drive every
    unfilter path in decode_png."""
    import zlib

    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) pixels, got {arr.shape}")
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"filter_type must be 0-4, got {filter_type}")
    h, w = arr.shape[:2]
    bpp = 3
    raw = arr.reshape(h, w * bpp).astype(np.int16)
    prev = np.zeros(w * bpp, dtype=np.int16)
    tag = bytes([filter_type])
    lines = []
    for y in range(h):
        row = raw[y]
        left = np.zeros_like(row)
        left[bpp:] = row[:-bpp]
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            filt = row - left
        elif filter_type == 2:
            filt = row - prev
        elif filter_type == 3:
            filt = row - (left + prev) // 2
        else:
            ul = np.zeros_like(prev)
            ul[bpp:] = prev[:-bpp]
            filt = row - _paeth(left, prev, ul)
        lines.append(tag + (filt % 256).astype(np.uint8).tobytes())
        prev = row  # the filter references RECONSTRUCTED bytes = raw here
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray | None:
    """Decode an 8-bit non-interlaced PNG (gray, truecolor, palette,
    gray+alpha, RGBA) to an (h, w, 3) uint8 RGB array — alpha channels
    dropped, gray replicated to RGB, PLTE applied. Unsupported shapes
    (bit depth != 8, Adam7 interlace, truncated/corrupt zlib streams,
    unknown filter bytes) return None so the caller falls back to the
    fake path like any foreign codec. Scanline unfiltering: None/Up are
    whole-row vectorized, Sub is a per-lane cumsum, Average/Paeth walk
    pixels with the three lane bytes vectorized (bounded by the Arrow
    batch's image sizes, never the table size)."""
    import zlib

    if not payload.startswith(_PNG_SIG):
        return None
    pos, n = 8, len(payload)
    ihdr = plte = None
    idat: list[bytes] = []
    while pos + 8 <= n:
        length = struct.unpack_from(">I", payload, pos)[0]
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            return None
        if tag == b"IHDR":
            if len(body) != 13:
                return None
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            pal = np.frombuffer(body, dtype=np.uint8)
            if len(pal) == 0 or len(pal) % 3:
                return None
            plte = pal.reshape(-1, 3)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
        pos += 12 + length  # length + tag + body + crc
    if ihdr is None or not idat:
        return None
    w, h, depth, color, comp, filt_method, interlace = ihdr
    ch = _PNG_CHANNELS.get(color)
    if (
        depth != 8
        or comp != 0
        or filt_method != 0
        or interlace != 0
        or ch is None
        or w <= 0
        or h <= 0
        or (color == 3 and plte is None)
    ):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = w * ch
    if len(raw) < h * (stride + 1):
        return None
    data = np.frombuffer(raw, dtype=np.uint8, count=h * (stride + 1)).reshape(
        h, stride + 1
    )
    ftypes = data[:, 0]
    if (ftypes > 4).any():
        return None
    filt = data[:, 1:].astype(np.int16)
    out = np.empty((h, stride), dtype=np.int16)
    prev = np.zeros(stride, dtype=np.int16)
    zeros = np.zeros(ch, dtype=np.int16)
    for y in range(h):
        f, row = int(ftypes[y]), filt[y]
        if f == 0:
            r = row
        elif f == 1:
            # recon[x] = filt[x] + recon[x-ch]: per-lane running sum.
            # int64 accumulator — an int16 cumsum overflows past w=128.
            r = (
                row.reshape(w, ch).cumsum(axis=0, dtype=np.int64) % 256
            ).reshape(stride).astype(np.int16)
        elif f == 2:
            r = (row + prev) % 256
        else:
            r = np.empty(stride, dtype=np.int16)
            for x in range(0, stride, ch):
                left = r[x - ch : x] if x else zeros
                up = prev[x : x + ch]
                if f == 3:
                    r[x : x + ch] = (row[x : x + ch] + (left + up) // 2) % 256
                else:
                    ul = prev[x - ch : x] if x else zeros
                    r[x : x + ch] = (
                        row[x : x + ch] + _paeth(left, up, ul)
                    ) % 256
        out[y] = r
        prev = r
    img = out.astype(np.uint8).reshape(h, w, ch)
    if color == 2:
        return np.ascontiguousarray(img)
    if color == 6:
        return np.ascontiguousarray(img[:, :, :3])
    if color == 0:
        return np.repeat(img, 3, axis=2)
    if color == 4:
        return np.repeat(img[:, :, :1], 3, axis=2)
    idx = img[:, :, 0]  # palette
    if int(idx.max(initial=0)) >= len(plte):
        return None
    return plte[idx]


# ---------------------------------------------------------------------------
# JPEG codec — baseline sequential JFIF in pure numpy (no PIL/libjpeg):
# Huffman entropy decode + dequant + 8x8 IDCT + YCbCr->RGB, with chroma
# subsampling (any h/v in 1..2) and DRI/RSTn restart markers. The encoder
# writes baseline 4:4:4 or 4:2:0 with the public ITU T.81 Annex K example
# quantization + Huffman tables, so round-trip property tests can drive
# every decode stage. Progressive (SOF2), arithmetic coding, 12-bit, and
# hierarchical modes return None — those payloads fall through to the
# clearly-marked fake like any foreign codec.
# ---------------------------------------------------------------------------

#: zigzag scan order: _ZIGZAG[i] = raster index of the i-th zigzag coeff
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: ITU T.81 Annex K.1 example quantization tables (luminance, chrominance)
_JPEG_QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_JPEG_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

#: ITU T.81 Annex K.3 example Huffman tables: (BITS counts, HUFFVAL)
_JPEG_HUFF = {
    ("dc", 0): (
        [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("dc", 1): (
        [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
        list(range(12)),
    ),
    ("ac", 0): (
        [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
        [
            0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
            0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
            0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
            0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
            0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
            0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
            0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
            0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
            0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
            0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
            0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
            0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
            0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
            0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
            0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
            0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
            0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
            0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
            0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
            0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
            0xF9, 0xFA,
        ],
    ),
    ("ac", 1): (
        [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
        [
            0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
            0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
            0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
            0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
            0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
            0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
            0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
            0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
            0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
            0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
            0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
            0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
            0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
            0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
            0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
            0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
            0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
            0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
            0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
            0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
            0xF9, 0xFA,
        ],
    ),
}


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: F = C @ f @ C.T, f = C.T @ F @ C."""
    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16)
    c *= np.sqrt(2.0 / 8.0)
    c[0] *= np.sqrt(0.5)
    return c


_DCT_C = _dct_matrix()


def _huff_decode_lut(counts: list[int], values: list[int]) -> dict:
    """Canonical Huffman (T.81 C.2): (code_length, code) -> symbol."""
    lut, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            lut[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return lut


def _huff_encode_lut(counts: list[int], values: list[int]) -> dict:
    """symbol -> (code, code_length), same canonical assignment."""
    return {
        v: (code, length)
        for (length, code), v in _huff_decode_lut(counts, values).items()
    }


class _BitReader:
    """MSB-first bit reader over an UNSTUFFED entropy segment."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            return 0  # past-the-end pad bits (spec: fill with 1s/0s)
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, lut: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = lut.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a SIZE-bit magnitude to its signed value."""
    if size == 0:
        return 0
    if v < (1 << (size - 1)):
        return v - (1 << size) + 1
    return v


def _unstuff(seg: bytes) -> bytes:
    return seg.replace(b"\xff\x00", b"\xff")


def decode_jpeg(payload: bytes) -> np.ndarray | None:
    """Decode a JFIF/JPEG to an (h, w, 3) uint8 RGB array: BASELINE
    sequential (SOF0) and PROGRESSIVE (SOF2 — spectral selection +
    successive approximation, DC and AC first/refinement scans, EOBn
    runs, T.81 G.1/G.2), 8-bit, 1 or 3 components, chroma sampling
    factors in 1..2, optional DRI/RSTn restarts. Still-unsupported
    payloads (arithmetic coding, 12-bit, lossless, hierarchical) and
    corrupt streams return None so the caller falls back to the labeled
    fake like any foreign codec. Pure numpy: Huffman decode walks the
    entropy stream per symbol (bounded by the Arrow batch's image sizes),
    dequant + inverse-zigzag + IDCT run as vectorized 8x8 matrix ops."""
    try:
        if not payload.startswith(b"\xff\xd8"):
            return None
        pos, n = 2, len(payload)
        qtabs: dict[int, np.ndarray] = {}
        huff: dict[tuple[str, int], dict] = {}
        frame = None  # (h, w, comps) where comps = [(cid, hs, vs, tq)]
        restart = 0
        progressive = False
        dims = None  # (hmax, vmax, mcux, mcuy)
        coeffs: list[np.ndarray] | None = None
        scanned = False
        while pos + 4 <= n:
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            pos += 2
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue
            if marker == 0xD9:  # EOI
                break
            seglen = struct.unpack_from(">H", payload, pos)[0]
            body = payload[pos + 2 : pos + seglen]
            pos += seglen
            if marker == 0xDB:  # DQT: one or more tables
                o = 0
                while o < len(body):
                    pq, tq = body[o] >> 4, body[o] & 0x0F
                    if pq != 0:
                        return None  # 16-bit tables: not baseline-8
                    tab = np.frombuffer(
                        body, dtype=np.uint8, count=64, offset=o + 1
                    ).astype(np.int64)
                    raster = np.zeros(64, dtype=np.int64)
                    raster[_ZIGZAG] = tab
                    qtabs[tq] = raster.reshape(8, 8)
                    o += 65
            elif marker == 0xC4:  # DHT: one or more tables
                o = 0
                while o < len(body):
                    tc, th = body[o] >> 4, body[o] & 0x0F
                    counts = list(body[o + 1 : o + 17])
                    nv = sum(counts)
                    values = list(body[o + 17 : o + 17 + nv])
                    huff[("dc" if tc == 0 else "ac", th)] = _huff_decode_lut(
                        counts, values
                    )
                    o += 17 + nv
            elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
                prec = body[0]
                if prec != 8:
                    return None
                h = struct.unpack_from(">H", body, 1)[0]
                w = struct.unpack_from(">H", body, 3)[0]
                nc = body[5]
                if nc not in (1, 3):
                    return None
                comps = []
                for i in range(nc):
                    cid = body[6 + 3 * i]
                    hv = body[7 + 3 * i]
                    comps.append((cid, hv >> 4, hv & 0x0F, body[8 + 3 * i]))
                if any(
                    not (1 <= hs <= 2 and 1 <= vs <= 2)
                    for _, hs, vs, _ in comps
                ):
                    return None
                frame = (h, w, comps)
                progressive = marker == 0xC2
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                dims = (hmax, vmax, -(-w // (8 * hmax)), -(-h // (8 * vmax)))
            elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                            0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None  # extended/lossless/arithmetic/hierarchical
            elif marker == 0xDD:  # DRI
                restart = struct.unpack_from(">H", body, 0)[0]
            elif marker == 0xDA:  # SOS: entropy data follows
                if frame is None:
                    return None
                ns = body[0]
                scan = []  # (comp_index, dc_table, ac_table)
                for i in range(ns):
                    cs = body[1 + 2 * i]
                    tda = body[2 + 2 * i]
                    ci = next(
                        j for j, c in enumerate(frame[2]) if c[0] == cs
                    )
                    scan.append((ci, tda >> 4, tda & 0x0F))
                if not progressive:
                    return _jpeg_scan(
                        payload, pos, frame, scan, qtabs, huff, restart
                    )
                ss = body[1 + 2 * ns]
                se = body[2 + 2 * ns]
                ahal = body[3 + 2 * ns]
                if coeffs is None:
                    hmax, vmax, mcux, mcuy = dims
                    coeffs = [
                        np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32)
                        for _, hs, vs, _ in frame[2]
                    ]
                pos = _prog_scan(
                    payload, pos, frame, dims, scan, ss, se,
                    ahal >> 4, ahal & 0x0F, huff, restart, coeffs,
                )
                scanned = True
        if progressive and scanned:
            return _prog_reconstruct(frame, dims, coeffs, qtabs)
        return None
    except (ValueError, IndexError, StopIteration, struct.error, KeyError):
        return None


def _jpeg_scan(
    payload: bytes,
    pos: int,
    frame: tuple,
    scan: list,
    qtabs: dict,
    huff: dict,
    restart: int,
) -> np.ndarray | None:
    """Entropy-decode the (single, non-progressive) scan and reconstruct
    RGB pixels."""
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    segs, _endpos = _entropy_segments(payload, pos)

    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64)
        for _, hs, vs, _ in (comps[ci] for ci, _, _ in scan)
    ]
    pred = [0] * len(scan)
    seg_iter = iter(segs)
    reader = _BitReader(next(seg_iter))
    mcu_in_seg = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_in_seg == restart:
                reader = _BitReader(next(seg_iter))
                pred = [0] * len(scan)
                mcu_in_seg = 0
            for si, (ci, td, ta) in enumerate(scan):
                _, hs, vs, tq = comps[ci]
                dc_lut = huff[("dc", td)]
                ac_lut = huff[("ac", ta)]
                q = qtabs[tq]
                for by in range(vs):
                    for bx in range(hs):
                        zz = np.zeros(64, dtype=np.int64)
                        size = reader.read_symbol(dc_lut)
                        pred[si] += _extend(reader.receive(size), size)
                        zz[0] = pred[si]
                        k = 1
                        while k < 64:
                            rs = reader.read_symbol(ac_lut)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index out of range")
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        coef = np.zeros(64, dtype=np.int64)
                        coef[_ZIGZAG] = zz
                        block = (coef.reshape(8, 8) * q).astype(np.float64)
                        spatial = _DCT_C.T @ block @ _DCT_C
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[si][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_in_seg += 1

    out = []
    for si, (ci, _, _) in enumerate(scan):
        _, hs, vs, _ = comps[ci]
        plane = planes[si]
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
        out.append(plane[:h, :w] + 128.0)
    return _finish_rgb(out)


def _entropy_segments(payload: bytes, pos: int) -> tuple[list[bytes], int]:
    """Split a scan's entropy data into restart segments (RSTn may
    appear mid-scan); returns the unstuffed segments plus the offset of
    the terminating marker (where header parsing resumes — progressive
    streams carry more scans after it)."""
    segs: list[bytes] = []
    start, p, n = pos, pos, len(payload)
    ended_at_marker = False
    while p + 1 < n:
        if payload[p] == 0xFF and payload[p + 1] != 0x00:
            m = payload[p + 1]
            if 0xD0 <= m <= 0xD7:
                segs.append(_unstuff(payload[start:p]))
                p += 2
                start = p
                continue
            ended_at_marker = True
            break  # EOI or next marker: end of scan
        p += 1
    if not ended_at_marker:
        p = n  # truncated stream (no terminator): keep the tail bytes
    segs.append(_unstuff(payload[start:p]))
    return segs, p


def _finish_rgb(out: list[np.ndarray]) -> np.ndarray:
    """Level-shifted planes -> uint8 RGB (shared by the baseline and
    progressive reconstruction paths)."""
    if len(out) == 1:
        g = np.clip(out[0], 0, 255).astype(np.uint8)
        return np.stack([g, g, g], axis=-1)
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def _ni_blocks(frame: tuple, dims: tuple, ci: int) -> tuple[int, int]:
    """A component's NON-INTERLEAVED block grid (T.81 A.2.2: ceil of the
    scaled dimensions over 8 — one data unit per MCU in a 1-component
    scan), as (block_rows, block_cols)."""
    h, w, comps = frame
    hmax, vmax = dims[0], dims[1]
    _, hs, vs, _ = comps[ci]
    cw = -(-(w * hs) // hmax)
    ch = -(-(h * vs) // vmax)
    return -(-ch // 8), -(-cw // 8)


def _prog_scan(
    payload: bytes,
    pos: int,
    frame: tuple,
    dims: tuple,
    scan: list,
    ss: int,
    se: int,
    ah: int,
    al: int,
    huff: dict,
    restart: int,
    coeffs: list[np.ndarray],
) -> int:
    """Decode ONE progressive scan (T.81 G.2) into the per-component
    coefficient store (zigzag order), returning the payload offset of
    the scan's terminating marker. Four scan kinds: DC first (Ah=0,
    Huffman diff coding of the point-transformed DC, interleaved or
    not), DC refinement (one raw bit per block), AC first (Ah=0,
    run/size coding with EOBn end-of-band runs, single component only),
    AC refinement (correction-bit algorithm, G.1.2.3). Restart markers
    reset predictors and the EOB run."""
    h, w, comps = frame
    hmax, vmax, mcux, mcuy = dims
    segs, endpos = _entropy_segments(payload, pos)
    seg_iter = iter(segs)
    reader = _BitReader(next(seg_iter))
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se == 0")
        if len(scan) > 1:
            preds = [0] * len(scan)
            in_seg = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart and in_seg == restart:
                        reader = _BitReader(next(seg_iter))
                        preds = [0] * len(scan)
                        in_seg = 0
                    for si, (ci, td, _ta) in enumerate(scan):
                        _, hs, vs, _ = comps[ci]
                        for by in range(vs):
                            for bx in range(hs):
                                blk = coeffs[ci][my * vs + by, mx * hs + bx]
                                if ah == 0:
                                    size = reader.read_symbol(
                                        huff[("dc", td)]
                                    )
                                    preds[si] += _extend(
                                        reader.receive(size), size
                                    )
                                    blk[0] = preds[si] << al
                                elif reader.read_bit():
                                    blk[0] |= 1 << al
                    in_seg += 1
        else:
            ci, td, _ta = scan[0]
            bh, bw = _ni_blocks(frame, dims, ci)
            pred0, in_seg = 0, 0
            for by in range(bh):
                for bx in range(bw):
                    if restart and in_seg == restart:
                        reader = _BitReader(next(seg_iter))
                        pred0, in_seg = 0, 0
                    blk = coeffs[ci][by, bx]
                    if ah == 0:
                        size = reader.read_symbol(huff[("dc", td)])
                        pred0 += _extend(reader.receive(size), size)
                        blk[0] = pred0 << al
                    elif reader.read_bit():
                        blk[0] |= 1 << al
                    in_seg += 1
    else:
        if len(scan) != 1:
            raise ValueError("progressive AC scan must be 1-component")
        if not (1 <= ss <= se <= 63):
            raise ValueError("bad spectral selection")
        ci, _td, ta = scan[0]
        ac_lut = huff[("ac", ta)]
        bh, bw = _ni_blocks(frame, dims, ci)
        p1, m1 = 1 << al, -(1 << al)
        eobrun, in_seg = 0, 0
        for by in range(bh):
            for bx in range(bw):
                if restart and in_seg == restart:
                    reader = _BitReader(next(seg_iter))
                    eobrun, in_seg = 0, 0
                blk = coeffs[ci][by, bx]
                if ah == 0:
                    if eobrun > 0:
                        eobrun -= 1
                    else:
                        k = ss
                        while k <= se:
                            rs = reader.read_symbol(ac_lut)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += reader.receive(r)
                                break
                            k += r
                            if k > se:
                                raise ValueError("AC index out of range")
                            blk[k] = _extend(reader.receive(s), s) << al
                            k += 1
                else:
                    eobrun = _refine_ac_block(
                        reader, ac_lut, blk, ss, se, p1, m1, eobrun
                    )
                in_seg += 1
    return endpos


def _refine_ac_block(
    reader: "_BitReader",
    ac_lut: dict,
    blk: np.ndarray,
    ss: int,
    se: int,
    p1: int,
    m1: int,
    eobrun: int,
) -> int:
    """AC successive-approximation refinement for one block (T.81
    G.1.2.3): newly-nonzero coefficients arrive as (run, 1) symbols with
    a sign bit; every already-nonzero coefficient passed over — in runs,
    in ZRLs, and in the EOB-run tail — consumes one correction bit that
    may add +-2^Al toward larger magnitude."""
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.read_symbol(ac_lut)
            r, s = rs >> 4, rs & 0x0F
            sval = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: a run of 16 zero-HISTORY coefficients
            else:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                sval = p1 if reader.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if reader.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if sval:
                if k > se:
                    # corrupt stream: the newly-nonzero coefficient has
                    # nowhere to land. Raise (-> decode_jpeg returns
                    # None -> labeled fake), mirroring the AC-first
                    # scan's out-of-range check — never silently drop
                    # the coefficient and decode subtly wrong pixels.
                    raise ValueError("AC refinement index out of range")
                blk[k] = sval
            k += 1
    if eobrun > 0:
        while k <= se:
            if blk[k] != 0 and reader.read_bit() and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _prog_reconstruct(
    frame: tuple, dims: tuple, coeffs: list[np.ndarray], qtabs: dict
) -> np.ndarray:
    """Dequantize + inverse-zigzag + IDCT every accumulated coefficient
    block (vectorized over all blocks per component) and color-convert —
    the progressive twin of _jpeg_scan's tail."""
    h, w, comps = frame
    hmax, vmax = dims[0], dims[1]
    out = []
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        zz = coeffs[ci]
        bh, bw = zz.shape[0], zz.shape[1]
        nat = np.zeros((bh, bw, 64), dtype=np.int64)
        nat[:, :, _ZIGZAG] = zz
        blocks = nat.reshape(bh, bw, 8, 8) * qtabs[tq]
        # the same stacked matmul as the baseline's per-block IDCT, not an
        # einsum: a different summation order can flip a rounding
        spatial = _DCT_C.T @ blocks.astype(np.float64) @ _DCT_C
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
        out.append(plane[:h, :w] + 128.0)
    return _finish_rgb(out)


class _BitWriter:
    """MSB-first bit writer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.out)


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    """IJG-style quality scaling of a base table (public libjpeg
    convention: 50 = base, 100 = all-ones)."""
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q * s + 50) // 100, 1, 255)


def _encode_block(
    writer: "_BitWriter",
    block: np.ndarray,
    q: np.ndarray,
    pred: int,
    dc_lut: dict,
    ac_lut: dict,
) -> int:
    """Forward DCT + quantize + Huffman-encode one 8x8 block; returns the
    new DC predictor."""
    coef = _DCT_C @ (block - 128.0) @ _DCT_C.T
    quant = np.round(coef / q).astype(np.int64)
    zz = quant.reshape(-1)[_ZIGZAG]
    diff = int(zz[0]) - pred
    size = int(abs(diff)).bit_length()
    code, length = dc_lut[size]
    writer.write(code, length)
    if size:
        writer.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = int(np.nonzero(zz)[0].max(initial=0))
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_lut[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        size = abs(v).bit_length()
        code, length = ac_lut[(run << 4) | size]
        writer.write(code, length)
        writer.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, length = ac_lut[0x00]  # EOB
        writer.write(code, length)
    return int(zz[0])


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline sequential JFIF
    JPEG using the public T.81 Annex K example tables (quality-scaled,
    IJG convention). ``subsample=True`` writes 4:2:0 (2x2 luma blocks
    per MCU, chroma averaged over 2x2 pixels) so round-trip tests drive
    the decoder's upsampling path; False writes 4:4:4.
    ``restart_interval=N`` emits DRI + an RSTn marker every N MCUs
    (predictors reset, stream byte-aligned) — the error-resilience
    feature real encoders use for parallel/robust decode."""
    arr = np.asarray(pixels, dtype=np.float64)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) pixels, got {arr.shape}")
    h, w = arr.shape[:2]
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0

    ql = _quality_scale(_JPEG_QL, quality).reshape(8, 8).astype(np.float64)
    qc = _quality_scale(_JPEG_QC, quality).reshape(8, 8).astype(np.float64)
    luts = {
        key: _huff_encode_lut(*_JPEG_HUFF[key]) for key in _JPEG_HUFF
    }

    hs = vs = 2 if subsample else 1
    mcux = -(-w // (8 * hs))
    mcuy = -(-h // (8 * vs))

    def _pad(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
        return np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )

    yp = _pad(y, mcuy * vs * 8, mcux * hs * 8)
    if subsample:
        # chroma at half resolution: average each 2x2 pixel group
        cbp = _pad(cb, mcuy * 16, mcux * 16)
        crp = _pad(cr, mcuy * 16, mcux * 16)
        cbp = cbp.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
        crp = crp.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
    else:
        cbp = _pad(cb, mcuy * 8, mcux * 8)
        crp = _pad(cr, mcuy * 8, mcux * 8)

    writer = _BitWriter()
    chunks: list[bytes] = []
    pred = [0, 0, 0]
    mcu_in_seg, rst = 0, 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_in_seg == restart_interval:
                chunks.append(writer.flush())
                chunks.append(bytes([0xFF, 0xD0 + rst]))
                rst = (rst + 1) % 8
                writer = _BitWriter()
                pred = [0, 0, 0]
                mcu_in_seg = 0
            for by in range(vs):
                for bx in range(hs):
                    y0, x0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                    pred[0] = _encode_block(
                        writer, yp[y0 : y0 + 8, x0 : x0 + 8], ql,
                        pred[0], luts[("dc", 0)], luts[("ac", 0)],
                    )
            y0, x0 = my * 8, mx * 8
            pred[1] = _encode_block(
                writer, cbp[y0 : y0 + 8, x0 : x0 + 8], qc,
                pred[1], luts[("dc", 1)], luts[("ac", 1)],
            )
            pred[2] = _encode_block(
                writer, crp[y0 : y0 + 8, x0 : x0 + 8], qc,
                pred[2], luts[("dc", 1)], luts[("ac", 1)],
            )
            mcu_in_seg += 1
    chunks.append(writer.flush())
    entropy = b"".join(chunks)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dqt(tq: int, tab: np.ndarray) -> bytes:
        zz = tab.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
        return seg(0xDB, bytes([tq]) + zz)

    def dht(tc: int, th: int, key: tuple) -> bytes:
        counts, values = _JPEG_HUFF[key]
        return seg(
            0xC4, bytes([(tc << 4) | th]) + bytes(counts) + bytes(values)
        )

    sof = seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + bytes([1, (hs << 4) | vs, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dri = (
        seg(0xDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"
        + app0
        + dqt(0, ql.astype(np.int64))
        + dqt(1, qc.astype(np.int64))
        + dri
        + sof
        + dht(0, 0, ("dc", 0))
        + dht(1, 0, ("ac", 0))
        + dht(0, 1, ("dc", 1))
        + dht(1, 1, ("ac", 1))
        + sos
        + entropy
        + b"\xff\xd9"
    )


#: Fixed FLAT Huffman tables for the progressive encoder: progressive AC
#: scans emit EOBn symbols (0x10..0xE0) that the T.81 Annex K example
#: tables do not contain (real encoders build optimal tables per scan);
#: a flat canonical table covering every possible symbol keeps the
#: bitstream valid for ANY decoder — compactness is not the goal here,
#: exercising the full decode surface is. DC: all 16 size symbols at
#: length 5 (max code 01111, never all-ones). AC: symbols 0x00..0x7F at
#: length 8, 0x80..0xFF at length 9 (canonical prefix-free, max code
#: 0b101111111).
_PROG_DC_HUFF = ([0, 0, 0, 0, 16] + [0] * 11, list(range(16)))
_PROG_AC_HUFF = (
    [0, 0, 0, 0, 0, 0, 0, 128, 128] + [0] * 7,
    list(range(256)),
)


def _prog_emit_eobrun(
    writer: "_BitWriter", ac_lut: dict, eobrun: int, bits: list[int]
) -> int:
    """Flush a pending end-of-band run (EOBn symbol + extension bits)
    followed by the buffered correction bits (T.81 G.1.2.3 order)."""
    if eobrun > 0:
        nbits = eobrun.bit_length() - 1
        code, length = ac_lut[nbits << 4]
        writer.write(code, length)
        if nbits:
            writer.write(eobrun - (1 << nbits), nbits)
    for b in bits:
        writer.write(b, 1)
    bits.clear()
    return 0


def encode_jpeg_progressive(
    pixels: np.ndarray, quality: int = 90, subsample: bool = False
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a PROGRESSIVE (SOF2) JFIF
    JPEG. The scan script exercises every progressive decode path: an
    interleaved DC first scan at Al=1, per-component AC first scans (the
    luma band split Ss=1..5 / 6..63 to drive spectral selection; EOBn
    end-of-band runs throughout), a DC refinement scan (raw bits), and
    per-component AC refinement scans (the G.1.2.3 correction-bit
    algorithm). Coefficients, quant tables, and color math are identical
    to encode_jpeg's, so progressive encode->decode must reproduce the
    baseline pipeline's pixels BIT-FOR-BIT — the round-trip property the
    tests pin."""
    arr = np.asarray(pixels, dtype=np.float64)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) pixels, got {arr.shape}")
    h, w = arr.shape[:2]
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    ql = _quality_scale(_JPEG_QL, quality).reshape(8, 8).astype(np.float64)
    qc = _quality_scale(_JPEG_QC, quality).reshape(8, 8).astype(np.float64)
    hs = vs = 2 if subsample else 1
    mcux = -(-w // (8 * hs))
    mcuy = -(-h // (8 * vs))

    def _pad(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
        return np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )

    yp = _pad(y, mcuy * vs * 8, mcux * hs * 8)
    if subsample:
        cbp = _pad(cb, mcuy * 16, mcux * 16)
        crp = _pad(cr, mcuy * 16, mcux * 16)
        cbp = cbp.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
        crp = crp.reshape(mcuy * 8, 2, mcux * 8, 2).mean(axis=(1, 3))
    else:
        cbp = _pad(cb, mcuy * 8, mcux * 8)
        crp = _pad(cr, mcuy * 8, mcux * 8)

    def _blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
        bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
        blk = plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3) - 128.0
        # the baseline encoder's matmul, not an einsum: a different
        # summation order can flip a quantizer rounding
        coef = _DCT_C @ blk @ _DCT_C.T
        quant = np.round(coef / q).astype(np.int64)
        return quant.reshape(bh, bw, 64)[:, :, _ZIGZAG]

    zzs = [_blocks(yp, ql), _blocks(cbp, qc), _blocks(crp, qc)]
    samp = [(hs, vs), (1, 1), (1, 1)]
    dc_lut = _huff_encode_lut(*_PROG_DC_HUFF)
    ac_lut = _huff_encode_lut(*_PROG_AC_HUFF)

    def _ni_dims(ci: int) -> tuple[int, int]:
        chs, cvs = samp[ci]
        cw = -(-(w * chs) // hs)
        ch = -(-(h * cvs) // vs)
        return -(-ch // 8), -(-cw // 8)

    def sos_header(comps_scan: list[int], ss: int, se: int,
                   ah: int, al: int) -> bytes:
        body = bytes([len(comps_scan)])
        for ci in comps_scan:
            body += bytes([ci + 1, 0x00])  # dc/ac table 0 everywhere
        return (
            bytes([0xFF, 0xDA])
            + struct.pack(">H", len(body) + 5)
            + body
            + bytes([ss, se, (ah << 4) | al])
        )

    def dc_first_scan(al: int) -> bytes:
        writer = _BitWriter()
        preds = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(3):
                    chs, cvs = samp[ci]
                    for by in range(cvs):
                        for bx in range(chs):
                            v = int(zzs[ci][my * cvs + by, mx * chs + bx, 0])
                            vt = v >> al  # DC point transform: arith shift
                            diff = vt - preds[ci]
                            preds[ci] = vt
                            size = abs(diff).bit_length()
                            code, length = dc_lut[size]
                            writer.write(code, length)
                            if size:
                                writer.write(
                                    diff if diff >= 0
                                    else diff + (1 << size) - 1,
                                    size,
                                )
        return sos_header([0, 1, 2], 0, 0, 0, al) + writer.flush()

    def dc_refine_scan(al: int) -> bytes:
        writer = _BitWriter()
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(3):
                    chs, cvs = samp[ci]
                    for by in range(cvs):
                        for bx in range(chs):
                            v = int(zzs[ci][my * cvs + by, mx * chs + bx, 0])
                            writer.write((v >> al) & 1, 1)
        return sos_header([0, 1, 2], 0, 0, 1, al) + writer.flush()

    def ac_first_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        writer = _BitWriter()
        bh, bw = _ni_dims(ci)
        eobrun = 0
        for by in range(bh):
            for bx in range(bw):
                blk = zzs[ci][by, bx]
                run = 0
                for k in range(ss, se + 1):
                    v = int(blk[k])
                    t = (abs(v) >> al) * (1 if v >= 0 else -1)
                    if t == 0:
                        run += 1
                        continue
                    if eobrun:
                        eobrun = _prog_emit_eobrun(writer, ac_lut, eobrun, [])
                    while run > 15:
                        code, length = ac_lut[0xF0]
                        writer.write(code, length)
                        run -= 16
                    size = abs(t).bit_length()
                    code, length = ac_lut[(run << 4) | size]
                    writer.write(code, length)
                    writer.write(
                        t if t >= 0 else t + (1 << size) - 1, size
                    )
                    run = 0
                if run > 0:
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        eobrun = _prog_emit_eobrun(writer, ac_lut, eobrun, [])
        _prog_emit_eobrun(writer, ac_lut, eobrun, [])
        return sos_header([ci], ss, se, 0, al) + writer.flush()

    def ac_refine_scan(ci: int, ss: int, se: int, al: int) -> bytes:
        # Two correction-bit pools (T.81 G.1.2.3 / the BE-vs-BR split):
        # run_bits belong to blocks already folded into the pending EOB
        # run and flush WITH the EOBn symbol (the decoder reads them
        # while tail-refining those blocks); blk_bits belong to the
        # CURRENT block and flush after its own ZRL / (run,1)+sign
        # symbols (the decoder reads them while advancing over
        # already-nonzero coefficients). Mixing the pools desyncs the
        # decoder's bit/symbol alternation.
        writer = _BitWriter()
        bh, bw = _ni_dims(ci)
        eobrun = 0
        run_bits: list[int] = []
        for by in range(bh):
            for bx in range(bw):
                blk = zzs[ci][by, bx]
                blk_bits: list[int] = []
                absv = [int(abs(blk[k])) >> al for k in range(ss, se + 1)]
                # position of the last newly-nonzero coefficient:
                # trailing runs/corrections fold into the EOB run
                eobpos = ss - 1
                for i, t in enumerate(absv):
                    if t == 1:
                        eobpos = ss + i
                run = 0
                for k in range(ss, se + 1):
                    t = absv[k - ss]
                    if t == 0:
                        run += 1
                        continue
                    while run > 15 and k <= eobpos:
                        eobrun = _prog_emit_eobrun(
                            writer, ac_lut, eobrun, run_bits
                        )
                        code, length = ac_lut[0xF0]
                        writer.write(code, length)
                        run -= 16
                        for b in blk_bits:
                            writer.write(b, 1)
                        blk_bits.clear()
                    if t > 1:
                        blk_bits.append(t & 1)
                        continue
                    eobrun = _prog_emit_eobrun(
                        writer, ac_lut, eobrun, run_bits
                    )
                    code, length = ac_lut[(run << 4) | 1]
                    writer.write(code, length)
                    writer.write(1 if int(blk[k]) >= 0 else 0, 1)
                    for b in blk_bits:
                        writer.write(b, 1)
                    blk_bits.clear()
                    run = 0
                if run > 0 or blk_bits:
                    eobrun += 1
                    run_bits.extend(blk_bits)
                    if eobrun == 0x7FFF:
                        eobrun = _prog_emit_eobrun(
                            writer, ac_lut, eobrun, run_bits
                        )
        _prog_emit_eobrun(writer, ac_lut, eobrun, run_bits)
        return sos_header([ci], ss, se, 1, al) + writer.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    def dqt(tq: int, tab: np.ndarray) -> bytes:
        zz = tab.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
        return seg(0xDB, bytes([tq]) + zz)

    sof = seg(
        0xC2,
        bytes([8])
        + struct.pack(">HH", h, w)
        + bytes([3])
        + bytes([1, (hs << 4) | vs, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    app0 = seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    dht = seg(
        0xC4, bytes([0x00]) + bytes(_PROG_DC_HUFF[0]) + bytes(_PROG_DC_HUFF[1])
    ) + seg(
        0xC4, bytes([0x10]) + bytes(_PROG_AC_HUFF[0]) + bytes(_PROG_AC_HUFF[1])
    )
    scans = [
        dc_first_scan(1),
        ac_first_scan(0, 1, 5, 1),
        ac_first_scan(0, 6, 63, 1),
        ac_first_scan(1, 1, 63, 1),
        ac_first_scan(2, 1, 63, 1),
        dc_refine_scan(0),
        ac_refine_scan(0, 1, 5, 0),
        ac_refine_scan(0, 6, 63, 0),
        ac_refine_scan(1, 1, 63, 0),
        ac_refine_scan(2, 1, 63, 0),
    ]
    return (
        b"\xff\xd8"
        + app0
        + dqt(0, ql.astype(np.int64))
        + dqt(1, qc.astype(np.int64))
        + sof
        + dht
        + b"".join(scans)
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# Container METADATA parsers for the environment-bound codecs: mp4 frame
# DECODE needs H.264/HEVC and mp3 needs a Layer-III synthesis filterbank
# (both stay labeled fakes), but the CONTAINERS are simple public formats
# (ISO/IEC 14496-12 box grammar; MPEG-1/2 audio frame headers) — duration,
# track/frame counts, and codec identity are REAL, parsed from bytes. At
# 100 TB that is the curation signal a pipeline filters on (length caps,
# codec allowlists) without paying a decode.
# ---------------------------------------------------------------------------

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def mp4_metadata(payload: bytes) -> dict | None:
    """Parse ISO-BMFF (mp4/mov) container metadata: movie duration from
    ``mvhd`` (timescale + duration), track count, and per-track handler /
    sample-entry fourcc / sample count from ``hdlr``/``stsd``/``stsz``.
    Returns None unless the payload starts with a valid ``ftyp`` box
    (the mp4 magic). Pure byte walking — no decode."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        return None
    out: dict = {"container": "mp4", "tracks": []}
    track: dict | None = None

    def walk(lo: int, hi: int) -> None:
        nonlocal track
        pos = lo
        while pos + 8 <= hi:
            size = struct.unpack_from(">I", payload, pos)[0]
            btype = payload[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > hi:
                    return
                size = struct.unpack_from(">Q", payload, pos + 8)[0]
                body = pos + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = hi - pos
            if size < 8 or pos + size > hi:
                return  # malformed: stop cleanly with what we have
            end = pos + size
            if btype == b"trak":
                track = {"handler": None, "codec": None, "samples": None}
                out["tracks"].append(track)
                walk(body, end)
                track = None
            elif btype in _MP4_CONTAINERS:
                walk(body, end)
            elif btype == b"mvhd" and end - body >= 20:
                # bounds per version: v0 reads through body+20, v1
                # through body+32 — a truncated box is skipped, never
                # unpacked past its declared end
                ver = payload[body]
                if ver == 1:
                    if end - body >= 32:
                        ts = struct.unpack_from(">I", payload, body + 20)[0]
                        dur = struct.unpack_from(">Q", payload, body + 24)[0]
                        out["timescale"] = ts
                        out["duration_s"] = (dur / ts) if ts else 0.0
                else:
                    ts = struct.unpack_from(">I", payload, body + 12)[0]
                    dur = struct.unpack_from(">I", payload, body + 16)[0]
                    out["timescale"] = ts
                    out["duration_s"] = (dur / ts) if ts else 0.0
            elif btype == b"hdlr" and track is not None and end - body >= 12:
                track["handler"] = payload[body + 8 : body + 12].decode(
                    "latin-1"
                )
            elif btype == b"stsd" and track is not None and end - body >= 16:
                n_entries = struct.unpack_from(">I", payload, body + 4)[0]
                if n_entries >= 1 and end - body >= 16:
                    track["codec"] = payload[body + 12 : body + 16].decode(
                        "latin-1"
                    )
            elif btype == b"stsz" and track is not None and end - body >= 12:
                track["samples"] = struct.unpack_from(
                    ">I", payload, body + 8
                )[0]
            pos = end

    try:
        walk(0, len(payload))
    except (struct.error, IndexError, ValueError, KeyError):
        # malformed container: return None (-> media_metadata classifies
        # "unknown") — a single bad payload must NEVER propagate out of
        # the mapInPandas UDF and kill a 100 TB curation pass. Same
        # catch-and-fall-back contract as decode_jpeg.
        return None
    if "duration_s" not in out:
        return None  # no moov/mvhd: not a playable movie
    return out


#: MPEG audio frame-header tables (public MPEG-1/2 audio spec): Layer III
#: bitrates in kbps (index 0 = free-format, rejected; 15 = invalid) and
#: sample rates by version id (0=MPEG2.5, 2=MPEG2, 3=MPEG1).
_MP3_BITRATES_V1 = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320
)
_MP3_BITRATES_V2 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def mp3_metadata(payload: bytes) -> dict | None:
    """Parse MPEG-1/2/2.5 Layer-III (mp3) framing metadata: skip an
    ID3v2 tag if present, then walk frame headers (sync + version /
    bitrate / samplerate / padding → frame length) counting frames and
    samples. Requires at least two contiguous valid frames so random
    bytes with an accidental sync word do not classify as mp3. Duration
    is exact for CBR and the frame-sum for VBR (no Xing parsing). No
    decode."""
    try:
        return _mp3_metadata_unsafe(payload)
    except (struct.error, IndexError, ValueError, KeyError):
        # malformed framing: fall back to None, same contract as
        # mp4_metadata/decode_jpeg — never kill the Spark job
        return None


def _mp3_metadata_unsafe(payload: bytes) -> dict | None:
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        sz = 0
        for b in payload[6:10]:  # syncsafe 7-bit bytes
            if b & 0x80:
                return None
            sz = (sz << 7) | b
        pos = 10 + sz
    frames = 0
    samples = 0
    duration = 0.0
    rate = None
    while pos + 4 <= len(payload):
        h = struct.unpack_from(">I", payload, pos)[0]
        if (h >> 21) & 0x7FF != 0x7FF:
            break
        ver = (h >> 19) & 0x3
        layer = (h >> 17) & 0x3
        if ver == 1 or layer != 1:  # reserved version / not Layer III
            break
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 0x3
        pad = (h >> 9) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            break
        kbps = (_MP3_BITRATES_V1 if ver == 3 else _MP3_BITRATES_V2)[br_idx]
        rate = _MP3_RATES[ver][sr_idx]
        spf = 1152 if ver == 3 else 576  # samples per Layer-III frame
        flen = (spf // 8) * kbps * 1000 // rate + pad
        if flen < 4 or pos + flen > len(payload):
            break
        frames += 1
        samples += spf
        duration += spf / rate
        pos += flen
    if frames < 2:
        return None
    return {
        "container": "mp3",
        "frames": frames,
        "samples": samples,
        "sample_rate": rate,
        "duration_s": duration,
    }


def media_metadata(binary_df: DataFrame) -> DataFrame:
    """Container-level metadata for EVERY payload the engine knows —
    images (decoded dims), PPM streams (frame count), WAV (duration),
    plus the REAL mp4/mp3 container parsers above — as one mapInPandas
    pass: (media_type, duration_s, n_units, detail). The curation
    primitive: codec allowlists and length caps without a decode. Same
    bounded Arrow-batch contract as extract_features."""
    # inherit the caller's doc_id type (string corpora and long
    # testdata-derived corpora both flow through)
    id_type = binary_df.schema["doc_id"].dataType.simpleString()
    schema = (
        f"doc_id {id_type}, media_type string, duration_s double, "
        "n_units long, detail string"
    )

    def one(payload: bytes) -> tuple[str, float, int, str]:
        frames = split_ppm_stream(payload)
        if len(frames) > 1:
            return "ppm_stream", 0.0, len(frames), "frames"
        img = _decode_image(payload)
        if img is not None:
            pixels, codec = img
            return codec, 0.0, 1, f"{pixels.shape[1]}x{pixels.shape[0]}"
        wav = decode_wav(payload)
        if wav is not None:
            samples, rate = wav
            return "wav", len(samples) / rate if rate else 0.0, len(
                samples
            ), f"{rate}Hz"
        m4 = mp4_metadata(payload)
        if m4 is not None:
            codecs = ",".join(
                t["codec"] or "?" for t in m4["tracks"]
            ) or "none"
            return "mp4", float(m4["duration_s"]), len(m4["tracks"]), codecs
        m3 = mp3_metadata(payload)
        if m3 is not None:
            return (
                "mp3", float(m3["duration_s"]), int(m3["frames"]),
                f"{m3['sample_rate']}Hz",
            )
        return "unknown", 0.0, 0, ""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (doc_id, *one(bytes(payload)))
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_type", "duration_s", "n_units",
                    "detail",
                ],
            )

    return binary_df.mapInPandas(run, schema)


def _bmff_box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + btype + body


def encode_mp4_stub(
    timescale: int, duration: int, n_samples: int = 1, codec: bytes = b"avc1"
) -> bytes:
    """Spec-vector ISO-BMFF container (ftyp + moov{mvhd, trak{mdia{hdlr,
    minf{stbl{stsd, stsz}}}}}) with REAL box grammar but no media data —
    the encode twin of mp4_metadata, used to build oracle-checkable
    corpora (mm5) and tests. Public 14496-12 grammar only."""
    ftyp = _bmff_box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = _bmff_box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + struct.pack(">II", 0, 0)  # ctime, mtime
        + struct.pack(">II", timescale, duration)
        + bytes(80),  # rate/volume/matrix/next_track
    )
    hdlr = _bmff_box(b"hdlr", bytes(8) + b"vide" + bytes(12) + b"h\x00")
    entry = _bmff_box(codec, bytes(70))
    stsd = _bmff_box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
    stsz = _bmff_box(b"stsz", bytes(4) + struct.pack(">II", 0, n_samples))
    stbl = _bmff_box(b"stbl", stsd + stsz)
    moov = _bmff_box(
        b"moov", mvhd + _bmff_box(b"trak", _bmff_box(b"mdia", hdlr + _bmff_box(b"minf", stbl)))
    )
    return ftyp + moov


def encode_mp3_cbr_stub(n_frames: int) -> bytes:
    """Spec-vector MPEG-1 Layer III CBR framing (128 kbps, 44100 Hz, no
    padding -> 417-byte frames) with REAL headers but silent frame
    bodies — the encode twin of mp3_metadata. Requires n_frames >= 2
    (the parser's anti-false-positive floor)."""
    header = (
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        | (9 << 12) | (0 << 10)
    )
    frame = struct.pack(">I", header) + bytes(417 - 4)
    return frame * n_frames


def media_corpus_from_docs(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Deterministic spec-vector media corpus derived from document
    bytes: even doc_id -> an mp4 whose mvhd duration is
    ``500 + (octet_length(text) * 37) % 9000`` ms (timescale 1000),
    odd doc_id -> an mp3 of ``2 + octet_length(text) % 6`` CBR frames.
    Every parsed field downstream (media_metadata) is therefore pure
    integer arithmetic over the source text — the mm1/mm3 oracle
    pattern applied to the container parsers. Arrow-batched
    mapInPandas; builder cost is O(payload) per row.

    Generic over the id type (the media_metadata contract): numeric ids
    pick mp4/mp3 by value parity (oracle-able as ``doc_id % 2``);
    non-numeric ids fall back to xxhash64 parity, computed Spark-side
    so the UDF never coerces the id."""
    id_type = docs.schema["doc_id"].dataType.simpleString()
    parity = (
        F.pmod(F.col("doc_id").cast("long"), F.lit(2))
        if id_type in ("tinyint", "smallint", "int", "bigint")
        else F.pmod(F.xxhash64(F.col("doc_id")), F.lit(2))
    )
    skinny = docs.select(
        F.col("doc_id"),
        F.octet_length(F.col(text_col)).alias("nb"),
        parity.cast("int").alias("par"),
    )

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                bytearray(
                    encode_mp4_stub(1000, 500 + (int(nb) * 37) % 9000)
                    if int(par) == 0
                    else encode_mp3_cbr_stub(2 + int(nb) % 6)
                )
                for par, nb in zip(pdf["par"], pdf["nb"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return skinny.mapInPandas(build, f"doc_id {id_type}, payload binary")


def _decode_image(payload: bytes) -> tuple[np.ndarray, str] | None:
    """Try every REAL image codec; returns (pixels, codec) or None."""
    pixels = decode_ppm(payload)
    if pixels is not None:
        return pixels, "ppm"
    pixels = decode_bmp(payload)
    if pixels is not None:
        return pixels, "bmp"
    pixels = decode_png(payload)
    if pixels is not None:
        return pixels, "png"
    pixels = decode_jpeg(payload)
    if pixels is not None:
        return pixels, "jpeg"
    return None


# ---------------------------------------------------------------------------
# WAV codec — RIFF/WAVE with PCM (8/16/32-bit int) or IEEE-float data
# ---------------------------------------------------------------------------

_WAV_DTYPES = {
    (1, 8): np.uint8,
    (1, 16): np.dtype("<i2"),
    (1, 32): np.dtype("<i4"),
    (3, 32): np.dtype("<f4"),
    (3, 64): np.dtype("<f8"),
}


def encode_wav(
    samples: np.ndarray, sample_rate: int = 16000, bits: int = 16
) -> bytes:
    """Encode a float array in [-1, 1] (1-D mono or (n, channels)) as a
    PCM WAV. Supports 16/32-bit int PCM."""
    if bits not in (16, 32):
        # 8-bit WAV is UNSIGNED-centered; the signed scale below would
        # wrap negatives (-1.0 -> 129). Reject rather than corrupt.
        raise ValueError(f"encode_wav supports 16/32-bit PCM, got bits={bits}")
    arr = np.asarray(samples, dtype=np.float64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n_channels = arr.shape[1]
    scale = float(2 ** (bits - 1) - 1)
    dtype = _WAV_DTYPES[(1, bits)]
    data = (np.clip(arr, -1.0, 1.0) * scale).astype(dtype).tobytes()
    block_align = n_channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate,
        sample_rate * block_align, block_align, bits,
    )
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt)) + fmt
        + struct.pack("<4sI", b"data", len(data)) + data
    )


def decode_wav(payload: bytes) -> tuple[np.ndarray, int] | None:
    """Decode a RIFF/WAVE payload to (mono float64 samples in [-1, 1],
    sample_rate), or None when the payload is not a supported WAV. Chunks
    are walked in order (LIST/fact/etc. skipped), multi-channel data is
    mono-mixed by mean."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, n = 12, len(payload)
    fmt = fmt_body = data = None
    while pos + 8 <= n:
        chunk_id, chunk_size = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + chunk_size]
        if chunk_id == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
            fmt_body = body
        elif chunk_id == b"data":
            data = body
        pos += 8 + chunk_size + (chunk_size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE
        # The REAL format lives in the fmt extension's SubFormat GUID
        # (bytes 24-40 of the fmt body); its first u16 is the format tag
        # (1 = PCM, 3 = IEEE float). Assuming PCM here would reinterpret
        # an extensible float32 WAV as int32 — garbage samples flagged
        # decoded=True. Anything else (e.g. ALAW GUIDs) is unsupported.
        if fmt_body is None or len(fmt_body) < 40:
            return None
        sub_format = struct.unpack_from("<H", fmt_body, 24)[0]
        if sub_format not in (1, 3):
            return None
        audio_format = sub_format
    dtype = _WAV_DTYPES.get((audio_format, bits))
    if dtype is None or n_channels < 1 or sample_rate <= 0:
        return None
    frame_bytes = n_channels * bits // 8
    n_frames = len(data) // frame_bytes
    if n_frames == 0:
        return np.zeros(0), sample_rate
    raw = np.frombuffer(data, dtype=dtype, count=n_frames * n_channels)
    if audio_format == 1:
        scale = float(2 ** (bits - 1))
        samples = (
            (raw.astype(np.float64) - 128.0) / 128.0
            if bits == 8  # 8-bit PCM is unsigned
            else raw.astype(np.float64) / scale
        )
    else:
        samples = raw.astype(np.float64)
    return samples.reshape(n_frames, n_channels).mean(axis=1), sample_rate


# ---------------------------------------------------------------------------
# Feature extraction
# ---------------------------------------------------------------------------

#: Output schema of the decode/feature-extract stage.
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("checksum", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

FEATURE_DIM = 4


def _pixel_features(pixels: np.ndarray) -> list[float]:
    """Real pixel-derived features: per-channel means + luminance std, all
    normalized to [0, 1]."""
    channel_means = pixels.reshape(-1, 3).mean(axis=0) / 255.0
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    return [*channel_means.tolist(), float(gray.std() / 255.0)]


def _fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic FALLBACK for payloads whose codec is unavailable here
    (JPEG/mp4/mp3 would need PIL/ffmpeg): derives FEATURE_DIM floats
    from byte-slice checksums so arbitrary media bytes still flow through
    the same Arrow plumbing with stable values."""
    if not payload:
        return [0.0] * FEATURE_DIM
    step = max(len(payload) // FEATURE_DIM, 1)
    return [
        (sum(payload[i * step : (i + 1) * step or None]) % 997) / 997.0
        for i in range(FEATURE_DIM)
    ]


def _decode_features(payload: bytes) -> list[float]:
    decoded = _decode_image(payload)
    if decoded is not None:
        return _pixel_features(decoded[0])
    return _fake_decode_features(payload)


def with_binary_payload(df: DataFrame, source_col: str = "text") -> DataFrame:
    """Model a multimodal table: payload as binary + typed metadata struct.

    (Here the payload is utf-8 bytes of a text column — the testdata has no
    real media — but the schema is the production one.)
    """
    return df.select(
        "doc_id",
        F.encode(F.col(source_col), "UTF-8").alias("payload"),
        F.struct(
            F.octet_length(F.col(source_col)).alias("n_bytes"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Decode + feature-extract over binary payloads via mapInPandas.

    PPM payloads are ACTUALLY decoded (header parse + numpy) into
    per-channel means + luminance std; other codecs fall back to the
    deterministic fake (see _fake_decode_features).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "checksum": payloads.map(lambda b: sum(b) % (1 << 31)).astype("int64"),
                    "feature": payloads.map(_decode_features),
                }
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Video features — temporal stats over the really-decoded frame stream
# ---------------------------------------------------------------------------

#: Output schema of the per-video temporal feature stage.
VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("mean_frame_diff", T.DoubleType()),
    ]
)

_LUMA = (0.299, 0.587, 0.114)


def _video_feature_row(payload: bytes) -> tuple[bool, int, float, float]:
    frames = split_ppm_stream(payload)
    if not frames:
        fake = _fake_decode_features(payload)
        return False, 0, fake[0], fake[1]
    lumas = []
    for f in frames:
        pixels = decode_ppm(f).astype(np.float64)
        # Elementwise mul-add in fixed order, NOT a BLAS matmul: dgemv
        # fuses multiply-adds (FMA), which no SQL engine reproduces —
        # this order bit-matches DuckDB's r*w0 + g*w1 + b*w2 (verified
        # exhaustively over all byte values in the mm4 oracle test).
        lumas.append(
            (
                pixels[..., 0] * _LUMA[0]
                + pixels[..., 1] * _LUMA[1]
                + pixels[..., 2] * _LUMA[2]
            )
            / 255.0
        )
    mean_luma = float(np.mean([l.mean() for l in lumas]))
    if len(lumas) < 2:
        return True, len(lumas), mean_luma, 0.0
    # Mean absolute per-pixel luminance change between consecutive frames
    # (the standard cheap motion proxy); frames may differ in size across
    # cuts — compare only same-shape consecutive pairs.
    diffs = [
        float(np.abs(b - a).mean())
        for a, b in zip(lumas, lumas[1:])
        if a.shape == b.shape
    ]
    return True, len(lumas), mean_luma, float(np.mean(diffs)) if diffs else 0.0


def video_features(binary_df: DataFrame) -> DataFrame:
    """Per-video temporal features over a concatenated-PPM stream payload:
    frame count, mean luminance, mean absolute frame-to-frame luminance
    change (motion proxy) — all on ACTUALLY decoded pixels. Non-PPM-stream
    payloads yield decoded=False with deterministic fakes. Same bounded
    Arrow-batch contract as extract_features/audio_features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_video_feature_row(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                rows,
                columns=["decoded", "n_frames", "mean_luma", "mean_frame_diff"],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out.astype({"n_frames": "int32"})

    return binary_df.select("doc_id", "payload").mapInPandas(run, VIDEO_SCHEMA)


# ---------------------------------------------------------------------------
# Audio features
# ---------------------------------------------------------------------------

#: Output schema of the audio decode/feature stage.
AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("decoded", T.BooleanType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
    ]
)


def _audio_feature_row(payload: bytes) -> tuple[bool, int, float, float, float, float]:
    decoded = decode_wav(payload)
    if decoded is None:
        # Deterministic FAKE for non-WAV payloads (mp3/ogg/flac would need
        # external codecs): byte-checksum stand-ins, decoded=False so
        # downstream filters can tell real measurements from plumbing.
        fake = _fake_decode_features(payload)
        return False, 0, 0.0, fake[0], fake[1], fake[2]
    samples, rate = decoded
    n = len(samples)
    if n == 0:
        return True, int(rate), 0.0, 0.0, 0.0, 0.0
    rms = float(np.sqrt(np.mean(samples**2)))
    peak = float(np.abs(samples).max())
    zcr = (
        float(np.mean(np.signbit(samples[1:]) != np.signbit(samples[:-1])))
        if n > 1
        else 0.0
    )
    return True, int(rate), n / rate, rms, peak, zcr


def audio_features(binary_df: DataFrame) -> DataFrame:
    """Decode + feature-extract WAV payloads via mapInPandas: duration,
    RMS level, peak amplitude, zero-crossing rate (all on the mono mix).

    Same scale contract as ``extract_features``: Arrow-batched, per-batch
    memory bounded by arrow.maxRecordsPerBatch, shuffle-free (a pure map).
    Non-WAV payloads yield decoded=False with deterministic fake values so
    arbitrary audio bytes still exercise the plumbing.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_audio_feature_row(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                rows,
                columns=[
                    "decoded", "sample_rate", "duration_s",
                    "rms", "peak", "zero_crossing_rate",
                ],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out.astype({"sample_rate": "int32"})

    return binary_df.select("doc_id", "payload").mapInPandas(run, AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# Deterministic media synthesis from byte columns — turns any document
# table into a REAL-decodable audio/video corpus (for tests, oracles, and
# pipeline dry-runs at scale) with byte-arithmetic-replayable features.
# ---------------------------------------------------------------------------

#: Output schema of the synth stages.
SYNTH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def wav_from_bytes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    limit_bytes: int = 256,
    sample_rate: int = 16000,
) -> DataFrame:
    """Synthesize a 16-bit PCM WAV per row from the first ``limit_bytes``
    UTF-8 bytes of ``text_col``: one sample per byte, value (b-128)/128.
    Every decoded feature downstream is then EXACT integer arithmetic on
    the source bytes (quantized sample = trunc((b-128)*32767/128), all
    float steps exact powers-of-two), so a SQL oracle can replay them
    bit-for-bit. Arrow-batched map, shuffle-free."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for txt in pdf[text_col]:
                bs = (txt or "").encode("utf-8")[:limit_bytes]
                arr = (
                    np.frombuffer(bs, dtype=np.uint8).astype(np.float64)
                    - 128.0
                ) / 128.0
                payloads.append(
                    encode_wav(arr, sample_rate=sample_rate, bits=16)
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].values, "payload": payloads}
            )

    return docs.select(id_col, text_col).mapInPandas(run, SYNTH_SCHEMA)


def ppm_video_from_bytes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_frames: int = 2,
) -> DataFrame:
    """Synthesize an ``n_frames``-frame PPM-stream video per row: frame k
    is a 2x2 UNIFORM gray image at the value of the text's k-th UTF-8
    byte. Uniform frames make every downstream luminance statistic a
    single-expression function of the source bytes (the mean of equal
    values is bit-exact in any summation order), so a SQL oracle can
    replay video_features exactly. Rows shorter than ``n_frames`` bytes
    get an EMPTY payload (the documented fake-path trigger)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for txt in pdf[text_col]:
                bs = (txt or "").encode("utf-8")[:n_frames]
                if len(bs) < n_frames:
                    payloads.append(b"")
                    continue
                payloads.append(
                    b"".join(
                        encode_ppm(np.full((2, 2, 3), b, np.uint8))
                        for b in bs
                    )
                )
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].values, "payload": payloads}
            )

    return docs.select(id_col, text_col).mapInPandas(run, SYNTH_SCHEMA)


# ---------------------------------------------------------------------------
# Resize
# ---------------------------------------------------------------------------

#: Output schema of the resize stage: payload out + new dims.
RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _resize_pixels(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize via numpy index gather (the standard
    sample-at-pixel-centers mapping)."""
    h_in, w_in = pixels.shape[:2]
    rows = np.minimum(((np.arange(height) + 0.5) * h_in / height).astype(int), h_in - 1)
    cols = np.minimum(((np.arange(width) + 0.5) * w_in / width).astype(int), w_in - 1)
    return pixels[rows[:, None], cols[None, :]]


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """FALLBACK for non-PPM payloads: tiles/truncates the byte stream to
    width*height bytes so output size is what a 1-byte-per-pixel resize
    would produce."""
    target = width * height
    if not payload:
        return b"\x00" * target
    reps = target // len(payload) + 1
    return (payload * reps)[:target]


def _resize_payload(payload: bytes, width: int, height: int) -> bytes:
    decoded = _decode_image(payload)
    if decoded is not None:
        pixels, codec = decoded
        out = _resize_pixels(pixels, width, height)
        if codec == "bmp":
            return encode_bmp(out)
        if codec == "png":
            return encode_png(out)
        if codec == "jpeg":
            return encode_jpeg(out)
        return encode_ppm(out)
    return _fake_resize(payload, width, height)


def resize_images(
    binary_df: DataFrame, width: int = 32, height: int = 32
) -> DataFrame:
    """Resize binary image payloads via mapInPandas. PPM payloads get a real
    nearest-neighbor resize (decode → numpy gather → re-encode); other
    codecs fall back to byte tiling (_fake_resize)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": pdf["payload"].map(
                        lambda b: _resize_payload(b, width, height)
                    ),
                    "width": width,
                    "height": height,
                }
            ).astype({"width": "int32", "height": "int32"})

    return binary_df.select("doc_id", "payload").mapInPandas(run, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# Frame sampling
# ---------------------------------------------------------------------------

#: Output schema of the video frame sampler: 1→N rows.
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("ts_offset_ms", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    binary_df: DataFrame, n_frames: int = 4, frame_interval_ms: int = 1000
) -> DataFrame:
    """Sample N frames per video payload — the one-to-many mapInPandas shape
    (each input row yields ``n_frames`` output rows).

    A concatenated-PPM stream is ACTUALLY demuxed: n_frames evenly-spaced
    frames are selected, each output frame is a valid standalone PPM, and
    ts_offset_ms reflects the source frame's position. Non-PPM payloads
    fall back to slicing the byte stream into n_frames chunks standing in
    for decoded frames (a real deployment would seek/decode with ffmpeg).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, frames = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                src_frames = split_ppm_stream(payload)
                if src_frames:
                    # Evenly-spaced sample over the real decoded frames.
                    picks = np.linspace(0, len(src_frames) - 1, n_frames).round().astype(int)
                    for out_idx, src_idx in enumerate(picks):
                        ids.append(doc_id)
                        idxs.append(out_idx)
                        offs.append(int(src_idx) * frame_interval_ms)
                        frames.append(src_frames[int(src_idx)])
                else:
                    chunk = max(len(payload) // n_frames, 1) if payload else 1
                    for i in range(n_frames):
                        ids.append(doc_id)
                        idxs.append(i)
                        offs.append(i * frame_interval_ms)
                        frames.append(bytes(payload[i * chunk : (i + 1) * chunk]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "ts_offset_ms": pd.Series(offs, dtype="int32"),
                    "frame": frames,
                }
            )

    return binary_df.select("doc_id", "payload").mapInPandas(run, FRAME_SCHEMA)
