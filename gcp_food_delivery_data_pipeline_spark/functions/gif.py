"""Minimal GIF89a codec — pure stdlib, no image libraries.

The VIDEO-shaped sibling of ``functions/png.py``: animated GIF is the
one multi-frame format a container without media libraries can both
write and read from scratch, which is what turns the frame-sampling
fake (operators/multimodal.py ``sample_frames``) into a REAL
end-to-end demonstration: bytes → LZW-decoded frames → stats.

Scope (deliberately minimal, standards-compliant output):

* encode: grayscale frames sharing one 256-entry global color table
  (palette index == gray value), one Graphic Control Extension +
  Image Descriptor per frame, LZW-coded with periodic CLEAR codes at
  fixed 9-bit width (the classic simple-encoder layout — any real
  decoder, including this module's, reads it).
* decode: full variable-width GIF-LZW (code growth to 12 bits,
  deferred-clear tolerant), extension skipping, multi-frame.

Interlacing, local color tables, disposal/compositing, and partial
frames are out of scope and rejected loudly, not silently.
"""

from __future__ import annotations

import struct

_TRAILER = 0x3B
_EXTENSION = 0x21
_IMAGE_SEP = 0x2C


def _lzw_encode(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF-LZW at fixed 9-bit width: literal codes with a CLEAR every
    200 symbols so the decoder's dictionary never forces a width bump.
    Larger output than real compression, but valid LZW any decoder
    accepts — and encode stays O(n) with zero dictionary state."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    acc = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    count = 0
    for b in indices:
        emit(b)
        count += 1
        if count == 200:  # decoder dict: 258 + 199 < 511 — width stays 9
            emit(clear)
            count = 0
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """General GIF-LZW decode: variable width up to 12 bits, the
    KwKwK self-referential case, and mid-stream CLEAR resets."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = eoi + 1
    prev: bytes | None = None
    out = bytearray()
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = {i: bytes([i]) for i in range(clear)}
                next_code = eoi + 1
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError(f"gif: invalid LZW code {code}")
            out += entry
            if prev is not None:
                table[next_code] = prev + entry[:1]
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    raise ValueError("gif: LZW stream ended without EOI")


def _sub_blocks(payload: bytes) -> bytes:
    """Wrap a byte stream into ≤255-byte GIF data sub-blocks."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif_gray(
    width: int, height: int, frames: list[bytes], delay_cs: int = 10
) -> bytes:
    """Animated grayscale GIF89a: every frame is ``width*height`` bytes
    of gray values (palette index == gray level)."""
    if not frames:
        raise ValueError("gif: need at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("gif: frame size mismatch")
    out = bytearray(b"GIF89a")
    # logical screen: global color table, 8 bits/color, 256 entries
    out += struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    for i in range(256):  # grayscale identity palette
        out += bytes((i, i, i))
    for f in frames:
        out += bytes((_EXTENSION, 0xF9, 4, 0))  # GCE, no disposal
        out += struct.pack("<H", delay_cs)
        out += bytes((0, 0))  # transparent idx (unused), terminator
        out += bytes((_IMAGE_SEP,))
        out += struct.pack("<HHHHB", 0, 0, width, height, 0)
        out += bytes((8,))  # LZW min code size
        out += _sub_blocks(_lzw_encode(f, 8))
    out.append(_TRAILER)
    return bytes(out)


def decode_gif_gray(data: bytes) -> tuple[int, int, list[bytes]]:
    """Parse + LZW-decode every frame: (width, height, frames).

    Every malformed input — truncation anywhere, unknown blocks,
    unsupported features — surfaces as ValueError (the module's
    reject-loudly contract), never a bare IndexError/struct.error."""
    try:
        return _decode_gif_gray(data)
    except (IndexError, struct.error) as ex:
        raise ValueError(f"gif: truncated or malformed stream ({ex})")


def _decode_gif_gray(data: bytes) -> tuple[int, int, list[bytes]]:
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("gif: bad signature")
    width, height, packed, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct_size = 0
    if packed & 0x80:
        gct_size = 3 * (2 << (packed & 0x07))
    palette = data[pos : pos + gct_size]
    pos += gct_size
    frames: list[bytes] = []
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == _TRAILER:
            break
        if block == _EXTENSION:
            pos += 1  # label
            while data[pos]:  # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
        elif block == _IMAGE_SEP:
            left, top, w, h, ipacked = struct.unpack(
                "<HHHHB", data[pos : pos + 9]
            )
            pos += 9
            if ipacked & 0x80:
                raise ValueError("gif: local color tables unsupported")
            if ipacked & 0x40:
                raise ValueError("gif: interlaced frames unsupported")
            if (left, top, w, h) != (0, 0, width, height):
                raise ValueError("gif: partial frames unsupported")
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos]:
                n = data[pos]
                lzw += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pos += 1
            idx = _lzw_decode(bytes(lzw), mcs)
            if len(idx) != width * height:
                raise ValueError("gif: decoded frame size mismatch")
            # map through the palette's red channel (identity for the
            # grayscale tables this module writes; correct generally
            # for any gray palette). A palette-less GIF (spec-legal)
            # uses the raw indices as gray values.
            if palette:
                frames.append(bytes(palette[3 * i] for i in idx))
            else:
                frames.append(idx)
        else:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
    if not frames:
        raise ValueError("gif: no frames")
    return width, height, frames
