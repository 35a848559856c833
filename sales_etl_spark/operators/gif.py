"""GIF87a codec with real LZW — pure stdlib, no PIL.

Public-knowledge implementation of the GIF87a specification
(CompuServe, 1987; the same structure W3C republished with GIF89a):
logical screen descriptor, global color table, image descriptor, and
the GIF flavor of LZW (variable code width 3..12 bits, CLEAR/EOI
codes, little-endian bit packing, 255-byte data sub-blocks). GIF is
LOSSLESS, so unlike the JPEG tier the decode query is hash-exact on
ARBITRARY rasters — every pixel of every fixture, any geometry, no
constant-tile contract needed.

The encoder is the grayscale fixture synthesizer (256-entry gray
palette, full dictionary-building LZW); the decoder is the production
half: it handles any global-color-table GIF87a/89a stream (89a
graphic-control/comment/application extension blocks are skipped),
applies the palette, and returns an interleaved RGB raster. Interlace
and local color tables raise — out of scope, fail loudly.

Scale shape: identical to operators/png.py / jpeg.py — per-payload
byte work inside Arrow-batched row kernels; fingerprinting stays
JVM-side.
"""

from __future__ import annotations

import struct

#: Same raster ceiling as the PNG/JPEG decoders.
_MAX_RASTER_BYTES = 1 << 26

#: 256-entry gray palette (index i -> (i,i,i)) — the fixture encoder's
#: global color table, built once.
_GRAY_PALETTE = bytes(v for i in range(256) for v in (i, i, i))

#: Prototype LZW decode table for the 8-bit case (the fixture path):
#: a .copy() per reset beats rebuilding the comprehension each time.
#: (The encoder needs no prototype — its integer-keyed dictionary
#: starts empty, base codes being implicit.)
_DEC_LIST_256 = [bytes([i]) for i in range(256)] + [b"", b""]


# ---------------------------------------------------------------------------
# LZW (GIF variant)
# ---------------------------------------------------------------------------


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """GIF LZW: dictionary-building encode with CLEAR emitted first
    and on dictionary overflow (the standard reset policy), EOI last,
    codes packed little-endian LSB-first."""
    clear = 1 << min_code_size
    eoi = clear + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    # The dictionary keys on (prefix CODE << 8) | next byte — integer
    # hashing instead of per-byte string concatenation (the classic
    # LZW-encoder representation; emitted codes, and therefore output
    # bytes, are identical to the string-keyed form). Base entries are
    # implicit: a palette index IS its own base code.
    width = min_code_size + 1
    table: dict[int, int] = {}
    next_code = eoi + 1
    emit(clear, width)
    prefix = -1  # -1 = no pending prefix
    for b in indices:
        if prefix < 0:
            prefix = b
            continue
        key = (prefix << 8) | b
        got = table.get(key)
        if got is not None:
            prefix = got
            continue
        emit(prefix, width)
        table[key] = next_code
        next_code += 1
        if next_code > (1 << width):
            width += 1
        if width > 12:
            emit(clear, 12)
            table = {}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = b
    if prefix >= 0:
        emit(prefix, width)
        # The decoder appends one table entry per code read (except
        # the first after a CLEAR), INCLUDING this final flush code —
        # which has no paired add on our side. Mirror that phantom
        # add before choosing EOI's width, or the two sides desync
        # exactly when the decoder's table lands on 2^width here
        # (EOI written at w, read at w+1 — a truncated-stream error
        # on a valid GIF).
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, max_out: int) -> bytes:
    """GIF LZW decode with the standard KwKwK special case; stops at
    EOI or when ``max_out`` indices have been produced (the bomb
    guard — output is bounded by the declared raster)."""
    clear = 1 << min_code_size
    eoi = clear + 1

    pos = 0
    acc = 0
    nbits = 0
    n_data = len(data)

    def fresh_table() -> list:
        if clear == 256:
            return _DEC_LIST_256.copy()
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    out = bytearray()
    width = min_code_size + 1
    mask = (1 << width) - 1
    table = fresh_table()
    prev: bytes | None = None
    while True:
        # bit read inlined: one function call per code dominated the
        # kernel profile (~85 codes/image at fixture scale)
        while nbits < width:
            if pos >= n_data:
                raise ValueError("LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & mask
        acc >>= width
        nbits -= width
        if code == clear:
            table = fresh_table()
            width = min_code_size + 1
            mask = (1 << width) - 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("invalid first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out += entry
        if len(out) > max_out:
            raise ValueError(
                f"LZW output exceeds declared raster ({max_out})"
            )
        # width growth mirrors the encoder: the encoder grows when its
        # next free code passes 2^width. Our table runs one entry
        # BEHIND the encoder's counter (no add happens on the first
        # code after a CLEAR), so the threshold lands at
        # len(table) >= 2^width — the next code we read may address
        # the encoder's latest entry, which needs the wider code.
        if len(table) >= (1 << width) and width < 12:
            width += 1
            mask = (1 << width) - 1
        prev = entry
    return bytes(out)


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def encode_gif(pixels: bytes, width: int, height: int) -> bytes:
    """Encode an 8-bit GRAYSCALE raster as a spec-valid GIF87a with a
    256-entry gray global color table (index i -> (i,i,i)) and real
    LZW image data in 255-byte sub-blocks."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match geometry")
    head = b"GIF87a"
    # logical screen: global table, 8-bit color resolution, 256 entries
    lsd = struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
    palette = _GRAY_PALETTE
    img_desc = struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
    lzw = _lzw_encode(pixels, 8)
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return head + lsd + palette + img_desc + bytes(blocks) + b"\x3b"


def decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a global-color-table GIF87a/89a stream: LZW-expand the
    first image, apply the palette, return
    ``(width, height, 3, rgb_raster)``. 89a extension blocks are
    skipped; interlaced images and local color tables raise — and so
    does EVERY malformed stream (truncation mid-header or
    mid-sub-block): low-level IndexError/struct.error are normalized
    to ValueError so quarantine tiers classify on one exception
    type (the decode tier's shared contract)."""
    try:
        return _decode_gif(data)
    except (IndexError, struct.error) as e:
        raise ValueError(
            f"corrupt GIF stream: {type(e).__name__}: {e}"
        ) from e


def _decode_gif(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    sw, sh, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    if not flags & 0x80:
        raise ValueError("missing global color table")
    gct_size = 2 << (flags & 0x07)
    palette = data[pos : pos + 3 * gct_size]
    pos += 3 * gct_size
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # 89a extension: label + sub-blocks
            pos += 2
            while data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected block 0x{b:02X}")
        _l, _t, w, h, iflags = struct.unpack(
            "<HHHHB", data[pos + 1 : pos + 10]
        )
        pos += 10
        if iflags & 0x40:
            raise ValueError("interlaced GIF not supported")
        if iflags & 0x80:
            raise ValueError("local color table not supported")
        if w * h * 3 > _MAX_RASTER_BYTES:
            raise ValueError(
                f"declared raster {w}x{h} exceeds "
                f"{_MAX_RASTER_BYTES} byte cap"
            )
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while data[pos] != 0:
            n = data[pos]
            lzw += data[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        indices = _lzw_decode(bytes(lzw), min_code, w * h)
        if len(indices) != w * h:
            raise ValueError(
                f"decoded {len(indices)} indices for a {w}x{h} image"
            )
        # vectorized palette application (a Python per-pixel loop here
        # was ~30% of decode time on the fixture corpus)
        import numpy as np

        idx = np.frombuffer(indices, dtype=np.uint8)
        if (idx >= gct_size).any():
            raise ValueError("palette index out of range")
        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        return w, h, 3, pal[idx].tobytes()
    raise ValueError("no image block in stream")
