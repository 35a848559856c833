"""Pure-stdlib PNG codec: REAL pixel decode with no PIL dependency.

The multimodal decode ladder (operators/multimodal.py) had three
tiers — header parse (always real), PIL pixel decode (real but only
where PIL is installed), deterministic stub — which left "real pixel
decode" unexecutable in sandboxes without PIL. PNG needs none of
that: the format is zlib DEFLATE (stdlib) plus five byte-level
scanline filters (public spec, RFC 2083 / ISO 15948), so this module
implements the full decode path — chunk walk, IDAT inflate, per-
scanline unfiltering (None/Sub/Up/Average/Paeth) — and a matching
encoder used to synthesize deterministic fixtures whose pixels an SQL
oracle can predict closed-form.

Decode scope: 8-bit depth, non-interlaced, color types 0 (gray),
2 (RGB), 3 (palette indices), 4 (gray+alpha), 6 (RGBA) — the
dominant shapes in practice. 16-bit and Adam7 interlace raise
``ValueError`` (honest rejection, not silent garbage).

Scale shape: both codec halves are per-item byte work inside
Arrow-batched row kernels (operators/multimodal.py:row_kernel over
``mapInArrow``) — Spark moves the binary column, Python touches
each payload once, and everything downstream
of the decoded pixels (fingerprint aggregation) is native JVM
aggregation. At 100 TB only payload size changes, not the plan.
"""

from __future__ import annotations

import struct
import zlib
from binascii import crc32

_SIG = b"\x89PNG\r\n\x1a\n"

#: samples per pixel by PNG color type
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: Hard ceiling on the IHDR-declared raster size (64 MiB ≈ 4096×4096
#: RGBA). Decoding runs inside Arrow-batched executors; one crafted
#: header must not be able to demand a multi-GiB allocation.
_MAX_RASTER_BYTES = 1 << 26


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §6.6): the neighbor (left, up,
    up-left) closest to the linear gradient p = a + b - c, ties
    breaking left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Full PNG decode: returns ``(width, height, channels, pixels)``
    where ``pixels`` is the unfiltered raw sample stream (row-major,
    ``width * height * channels`` bytes; palette images yield palette
    INDICES — the index stream is the decoded raster for type 3).

    Raises ``ValueError`` on anything malformed (bad signature,
    truncated chunks, CRC mismatch, inconsistent raster length) or
    outside scope (16-bit, interlaced) — corrupt payloads must fail
    at the decode site, not produce silent garbage downstream.
    """
    if data[:8] != _SIG:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    ihdr: tuple[int, int, int, int] | None = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(data):
        length = int.from_bytes(data[pos : pos + 4], "big")
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError(f"truncated {ctype!r} chunk")
        crc = int.from_bytes(
            data[pos + 8 + length : pos + 12 + length], "big"
        )
        if crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError("IHDR must be 13 bytes")
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if comp != 0 or filt != 0:
                raise ValueError("unknown compression/filter method")
            if interlace != 0:
                raise ValueError("Adam7 interlace not supported")
            if depth != 8:
                raise ValueError(f"only 8-bit depth supported: {depth}")
            if color not in _CHANNELS:
                raise ValueError(f"unknown color type {color}")
            ihdr = (w, h, depth, color)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if ihdr is None or not seen_iend or not idat:
        raise ValueError("missing IHDR/IDAT/IEND")
    w, h, _depth, color = ihdr
    ch = _CHANNELS[color]
    stride = w * ch
    expected = (stride + 1) * h
    if expected > _MAX_RASTER_BYTES:
        raise ValueError(
            f"declared raster {w}x{h}x{ch} exceeds "
            f"{_MAX_RASTER_BYTES} byte cap"
        )
    # Bounded inflate: cap the output at the IHDR-declared raster size
    # (+1 to detect overflow) so a crafted PNG with a high-ratio
    # DEFLATE stream cannot allocate unbounded memory before the
    # length validation fires.
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"corrupt IDAT deflate stream: {e}") from e
    if len(raw) != expected:
        raise ValueError(
            f"raster length {len(raw)} != {expected}"
        )
    # the bounded call drops the full-stream validation zlib.decompress
    # gave for free: when the cap was NOT hit, all input was consumed,
    # so eof=False means a truncated stream (the zlib trailer with its
    # Adler-32 checksum never arrived) — a corrupt file must not
    # decode silently just because the byte count happens to match
    if not dec.eof:
        raise ValueError("IDAT deflate stream truncated (no trailer)")
    out = bytearray(stride * h)
    prev = bytes(stride)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = bytearray(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        )
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown scanline filter {f}")
        out[y * stride : (y + 1) * stride] = line
        prev = bytes(line)
    return w, h, ch, bytes(out)


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + (crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def encode_png(
    pixels: bytes,
    width: int,
    height: int,
    filter_for_row=None,
) -> bytes:
    """Encode an 8-bit GRAYSCALE raster (``width * height`` bytes) as
    a spec-valid PNG. ``filter_for_row(y) -> 0..4`` selects the
    scanline filter (default all-0); the fixture queries vary it per
    row so the decode path's unfiltering of every filter type is on
    the hash-checked surface — a wrong Sub/Up/Average/Paeth inverse
    changes decoded pixels and fails the oracle."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer size mismatch")
    pick = filter_for_row or (lambda y: 0)
    raw = bytearray()
    prev = bytes(width)
    for y in range(height):
        line = pixels[y * width : (y + 1) * width]
        f = pick(y) % 5
        raw.append(f)
        if f == 0:
            raw += line
        elif f == 1:  # Sub
            raw += bytes(
                (line[i] - (line[i - 1] if i else 0)) & 0xFF
                for i in range(width)
            )
        elif f == 2:  # Up
            raw += bytes(
                (line[i] - prev[i]) & 0xFF for i in range(width)
            )
        elif f == 3:  # Average
            raw += bytes(
                (line[i] - (((line[i - 1] if i else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(width)
            )
        else:  # Paeth
            raw += bytes(
                (
                    line[i]
                    - _paeth(
                        line[i - 1] if i else 0,
                        prev[i],
                        prev[i - 1] if i else 0,
                    )
                )
                & 0xFF
                for i in range(width)
            )
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )
