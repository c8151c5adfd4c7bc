"""Minimal real PNG codec (8-bit grayscale + 8-bit RGB) on the stdlib
only.

The multimodal operators fake *library* codecs because image libs
aren't installed — but PNG itself is just zlib (stdlib) plus chunk
framing and per-scanline filters, so this module
implements the format for real: a spec-correct encoder and decoder for
8-bit grayscale, non-interlaced images, including all five PNG filter
types (None/Sub/Up/Average/Paeth, RFC 2083 §6). That turns the
multimodal decode path from a deterministic fake into an end-to-end
demonstration: bytes written by any standards-compliant PNG writer of
this subset decode here, and payloads encoded here open in any image
viewer.

Scale note: the per-pixel work runs inside Arrow-batched
``mapInPandas`` (see ``operators.multimodal.decode_png_stats``); a
production deployment would swap the pure-Python unfilter loop for a
C codec, the same swap a real decode would make in place of
``operators.multimodal.extract_features``'s byte-histogram fake. The
plumbing — schema, batching, payload pruning — is identical either way.

Color types other than grayscale-8 (type 0) and RGB-8 (type 2) raise
``NotImplementedError`` with the supported subset spelled out;
malformed framing raises ``ValueError``.
"""

from __future__ import annotations

import struct
import zlib

_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# color type -> bytes per pixel (8-bit depth): 0 = grayscale, 2 = RGB
# truecolor (RFC 2083 §4.1.1). Filters operate bytewise with the
# "left" reference ``bpp`` bytes back, which is why one loop serves
# both (RFC 2083 §6.2).
_BPP = {0: 1, 2: 3}


def _encode(
    width: int,
    height: int,
    pixels: bytes,
    color_type: int,
    filter_mode: str,
) -> bytes:
    bpp = _BPP[color_type]
    if len(pixels) != width * height * bpp:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, "
            f"expected {width * height * bpp}"
        )
    stride = width * bpp
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        ftype = (y % 5) if filter_mode == "cycle" else 0
        raw.append(ftype)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0  # left
            b = prev[x]  # up
            c = prev[x - bpp] if x >= bpp else 0  # up-left
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                pred = _paeth(a, b, c)
            raw.append((row[x] - pred) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def encode_png_gray(
    width: int, height: int, pixels: bytes, filter_mode: str = "cycle"
) -> bytes:
    """Encode 8-bit grayscale pixels (row-major, len == width*height)
    as a standards-compliant PNG.

    ``filter_mode="cycle"`` applies filter type ``y % 5`` to row ``y``
    so round-trip tests exercise every reconstruction branch of the
    decoder; ``"none"`` writes filter 0 throughout (what a naive
    encoder would do).
    """
    return _encode(width, height, pixels, 0, filter_mode)


def encode_png_rgb(
    width: int, height: int, pixels: bytes, filter_mode: str = "cycle"
) -> bytes:
    """Encode 8-bit RGB pixels (row-major, interleaved R,G,B — len ==
    width*height*3) as a standards-compliant truecolor PNG (color
    type 2). Filters reference the pixel 3 bytes back per the spec, so
    every reconstruction branch differs from the grayscale path and is
    exercised by ``filter_mode="cycle"``.
    """
    return _encode(width, height, pixels, 2, filter_mode)


def decode_png_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG produced by any writer of the grayscale-8 subset.

    Returns ``(width, height, pixels)`` with pixels row-major. Handles
    multiple IDAT chunks and all five filter types; validates the
    signature, IHDR geometry, and per-chunk CRCs.
    """
    w, h, color, pixels = decode_png(data)
    if color != 0:
        raise NotImplementedError(
            "decode_png_gray handles 8-bit grayscale only; "
            f"got color_type={color} (use decode_png for RGB)"
        )
    return w, h, pixels


def decode_png_rgb(data: bytes) -> tuple[int, int, bytes]:
    """Decode an 8-bit truecolor (color type 2) PNG. Returns
    ``(width, height, pixels)`` with pixels row-major interleaved
    R,G,B (len == width*height*3)."""
    w, h, color, pixels = decode_png(data)
    if color != 2:
        raise NotImplementedError(
            "decode_png_rgb handles 8-bit RGB only; "
            f"got color_type={color} (use decode_png_gray for grayscale)"
        )
    return w, h, pixels


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG of the implemented subset (8-bit grayscale or
    8-bit RGB, non-interlaced). Returns ``(width, height, color_type,
    pixels)``; pixels are row-major, ``width*height*bpp`` bytes with
    bpp 1 (gray) or 3 (RGB). Handles multiple IDAT chunks and all five
    filter types; validates the signature, IHDR geometry, and
    per-chunk CRCs.
    """
    if data[: len(_SIGNATURE)] != _SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = len(_SIGNATURE)
    width = height = color = -1
    idat = bytearray()
    seen_end = False
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError(f"truncated {tag!r} chunk")
        if pos + 12 + length > len(data):
            raise ValueError(f"truncated CRC after {tag!r} chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise ValueError(f"CRC mismatch in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color not in _BPP:
                raise NotImplementedError(
                    "only 8-bit grayscale (color type 0) and 8-bit RGB "
                    "(color type 2) are implemented; got "
                    f"depth={depth} color_type={color}"
                )
            if comp != 0 or filt != 0 or interlace != 0:
                raise NotImplementedError(
                    "only compression 0, filter method 0, non-interlaced"
                )
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            seen_end = True
            break
    if width < 0:
        raise ValueError("missing IHDR")
    if width == 0 or height == 0:
        # Unsigned IHDR fields make 0 structurally parseable, but the
        # spec forbids zero dimensions — reject here so consumers
        # (e.g. mean-pixel stats) never divide by a zero area.
        raise ValueError(f"zero-area image: {width}x{height}")
    if not seen_end:
        raise ValueError("missing IEND")
    raw = zlib.decompress(bytes(idat))
    bpp = _BPP[color]
    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"decompressed to {len(raw)} bytes, "
            f"expected {height * (stride + 1)}"
        )
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        row_f = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        row = bytearray(stride)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            elif ftype == 4:
                pred = _paeth(a, b, c)
            else:
                raise ValueError(f"unknown filter type {ftype} in row {y}")
            row[x] = (row_f[x] + pred) & 0xFF
        out.extend(row)
        prev = bytes(row)
    return width, height, color, bytes(out)
