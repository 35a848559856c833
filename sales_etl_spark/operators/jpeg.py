"""Baseline-sequential JPEG codec in pure Python + NumPy — no PIL.

Public-knowledge implementation of ITU-T T.81 (1992) baseline DCT
(SOF0) with the JFIF 1.02 container: marker walk, DQT (8/16-bit),
DHT canonical Huffman, interleaved MCU entropy decode with restart
markers, dequantize + separable IDCT, chroma upsampling, JFIF
YCbCr->RGB. The encoder half is the grayscale fixture synthesizer
(mirrors operators/png.py:encode_png): standard Annex K Huffman
tables, edge-replication padding, selectable quantization table.

Exactness contract for the hash-checked tier: a raster whose 8x8
blocks are each CONSTANT survives encode->decode BIT-EXACTLY when the
quantization table is all-ones — the forward DCT of a constant block
is a single DC coefficient 8*(v-128) (an exact float for v in
0..255), every AC term is a mathematically-zero cosine sum that
quantization rounds away, and the IDCT of a lone DC returns the
constant. General rasters are lossy (the point of JPEG) and are
covered by the tolerance-tier tests, not the driver hash.

Scale shape: the codec runs inside Arrow-batched row kernels
(operators/multimodal.py:row_kernel over ``mapInArrow``) — per-payload byte work Spark has no
builtin for; everything after decode (fingerprinting, aggregation)
stays JVM-side. Reference parity: the reference pipeline has no image
codec at all (etl/ is tabular CSV->postgres); this extends the
multimodal ingestion tier the training-data brief requires.
"""

from __future__ import annotations

import struct

import numpy as np

#: Zig-zag scan order: index = zigzag position, value = row-major slot.
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

#: T.81 Annex K.1 — example luminance quantization table.
STD_LUMA_QUANT = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)

#: T.81 Annex K.3 — typical luminance DC table (BITS, HUFFVAL).
STD_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
STD_DC_VALS = tuple(range(12))

#: T.81 Annex K.3 — typical luminance AC table.
STD_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
STD_AC_VALS = (
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
)

#: Same raster-size ceiling as the PNG decoder: one crafted SOF header
#: must not be able to demand a multi-GiB allocation inside an
#: executor kernel.
_MAX_RASTER_BYTES = 1 << 26


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis M (T.81 A.3.3 scaling):
    coefficients = M @ block @ M.T, samples = M.T @ coefs @ M."""
    x = np.arange(8)
    u = x.reshape(-1, 1)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16.0)
    m[0, :] = 0.5 / np.sqrt(2.0)
    return m


_DCT_M = _dct_matrix()
_ZZ_NP = np.array(ZIGZAG)


#: Built Huffman tables are memoized — the standard tables recur for
#: every fixture payload, and rebuilding them dominated the encode
#: profile (~25%) before caching. BOUNDED: real-world corpora carry
#: per-image optimized DHT tables, and an unbounded cache in a
#: long-lived executor kernel is a slow leak — past the cap, tables
#: build uncached (the standard tables that motivated the cache get
#: in first and stay).
_CODES_CACHE: dict = {}
_CODES_CACHE_MAX = 64


def _canonical_codes(bits, vals):
    """(T.81 C.2) canonical Huffman: code lengths come sorted, codes
    count up within a length and shift left across lengths. Returns
    {(length, code): symbol}."""
    key = (0, bytes(bits), bytes(vals))
    cached = _CODES_CACHE.get(key)
    if cached is not None:
        return cached
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    if len(_CODES_CACHE) < _CODES_CACHE_MAX:
        _CODES_CACHE[key] = table
    return table


def _encode_codes(bits, vals):
    """Inverse of :func:`_canonical_codes`: {symbol: (code, length)}."""
    key = (1, bytes(bits), bytes(vals))
    cached = _CODES_CACHE.get(key)
    if cached is not None:
        return cached
    table = {
        sym: (code, length)
        for (length, code), sym in _canonical_codes(bits, vals).items()
    }
    if len(_CODES_CACHE) < _CODES_CACHE_MAX:
        _CODES_CACHE[key] = table
    return table


# ---------------------------------------------------------------------------
# bit I/O with 0xFF stuffing
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # T.81 B.1.1.5 byte stuffing
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


#: 16-bit table-driven Huffman decode (the classic libjpeg lookahead,
#: here full-width): entry i = (symbol, code length) for the code that
#: prefixes the 16-bit window i; length 0 marks an invalid prefix.
#: Built once per DHT table and memoized — plain Python lists because
#: scalar list indexing beats scalar ndarray indexing ~3x in the
#: per-symbol loop. BOUNDED for the same executor-leak reason as
#: _CODES_CACHE (each entry is ~1 MiB of pointers).
_LUT_CACHE: dict = {}
_LUT_CACHE_MAX = 16


def _decode_lut(bits, vals) -> tuple[list, list]:
    """(symbols, lengths) flat 65536-entry decode tables for a DHT
    (BITS, HUFFVAL) pair — every 16-bit window starting with a valid
    canonical code maps to that code's symbol and length."""
    key = (bytes(bits), bytes(vals))
    cached = _LUT_CACHE.get(key)
    if cached is not None:
        return cached
    sym = np.zeros(65536, dtype=np.int32)
    ln = np.zeros(65536, dtype=np.int32)
    for (length, code), s in _canonical_codes(bits, vals).items():
        base = code << (16 - length)
        span = 1 << (16 - length)
        sym[base : base + span] = s
        ln[base : base + span] = length
    built = (sym.tolist(), ln.tolist())
    if len(_LUT_CACHE) < _LUT_CACHE_MAX:
        _LUT_CACHE[key] = built
    return built


#: Parsed DQT segments memoized by raw bytes — a corpus reuses a
#: handful of quantization tables across millions of images, and the
#: per-image unzigzag showed up in the decode profile. Bounded like
#: every other codec cache.
_DQT_CACHE: dict = {}
_DQT_CACHE_MAX = 64


def _dqt_table(raw: bytes, pq: int) -> np.ndarray:
    """Natural-order flat float64 quantization table from a DQT
    payload (zig-zag order, 8- or 16-bit precision per ``pq``)."""
    key = (pq, raw)
    cached = _DQT_CACHE.get(key)
    if cached is not None:
        return cached
    vals = np.frombuffer(raw, dtype=">u2" if pq else np.uint8)
    if vals.shape[0] != 64:
        raise ValueError("short DQT segment")
    tbl = np.zeros(64, dtype=np.float64)
    tbl[_ZZ_NP] = vals
    if len(_DQT_CACHE) < _DQT_CACHE_MAX:
        _DQT_CACHE[key] = tbl
    return tbl


def _destuff_interval(data: bytes, pos: int) -> tuple[bytes, int]:
    """Extract one entropy-coded interval starting at ``pos``: scan to
    the next REAL marker (any 0xFF not followed by a stuffed 0x00),
    return (interval bytes with T.81 B.1.1.5 stuffing removed, offset
    of the terminating marker's 0xFF). One C-speed ``bytes.replace``
    does the destuffing instead of a per-byte Python check."""
    i = pos
    while True:
        j = data.find(0xFF, i)
        if j == -1:
            raise ValueError("truncated entropy data (no marker)")
        # data[j + 1] IndexError on a trailing 0xFF normalizes to
        # ValueError in decode_jpeg's wrapper
        if data[j + 1] == 0x00:
            i = j + 2
            continue
        return data[pos:j].replace(b"\xff\x00", b"\xff"), j


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# ---------------------------------------------------------------------------
# encoder (grayscale baseline, the fixture synthesizer)
# ---------------------------------------------------------------------------


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


#: Constant header segments, built once — rebuilding them per payload
#: was ~20% of fixture-encode time.
_JFIF_PREFIX = b"\xff\xd8" + _seg(
    0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
)
_STD_DHT_SEG = _seg(
    0xC4,
    bytes([0x00]) + bytes(STD_DC_BITS) + bytes(STD_DC_VALS)
    + bytes([0x10]) + bytes(STD_AC_BITS) + bytes(STD_AC_VALS),
)
_SOS_SEG = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))

#: Bounded like _CODES_CACHE and for the same reason: per-image
#: quantization tables on a real corpus would otherwise grow the
#: executor's dict without bound.
_QUANT_CACHE: dict = {}
_QUANT_CACHE_MAX = 64


def _quant_prep(qtable: tuple):
    """(validated 8x8 float table, encoded DQT segment) for a
    row-major qtable — memoized, the tables recur per fixture."""
    cached = _QUANT_CACHE.get(qtable)
    if cached is not None:
        return cached
    q = np.asarray(qtable, dtype=np.float64).reshape(8, 8)
    qz8 = np.rint(q).astype(np.int64)
    if (qz8 < 1).any() or (qz8 > 255).any():
        raise ValueError("8-bit quantization values must be 1..255")
    dqt = _seg(
        0xDB, bytes([0]) + bytes(int(v) for v in qz8.ravel()[_ZZ_NP])
    )
    if len(_QUANT_CACHE) < _QUANT_CACHE_MAX:
        _QUANT_CACHE[qtable] = (q, dqt)
    return q, dqt


def encode_jpeg(
    pixels: bytes,
    width: int,
    height: int,
    qtable=None,
) -> bytes:
    """Encode an 8-bit GRAYSCALE raster as a spec-valid baseline JFIF
    JPEG. ``qtable`` is 64 quantization values in ROW-MAJOR order
    (default all-ones — visually lossless and bit-exact on
    block-constant rasters; pass :data:`STD_LUMA_QUANT` for realistic
    compression). Edges pad by replication to 8-pixel multiples; the
    SOF records the true geometry so decoders crop back."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match geometry")
    if qtable is None:
        qtable = (1,) * 64
    q, dqt = _quant_prep(tuple(qtable))

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ph = (height + 7) // 8 * 8
    pw = (width + 7) // 8 * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]
    padded[:, width:] = padded[:, width - 1 : width]

    dc_codes = _encode_codes(STD_DC_BITS, STD_DC_VALS)
    ac_codes = _encode_codes(STD_AC_BITS, STD_AC_VALS)
    # Forward DCT + quantize + zig-zag for EVERY block in one numpy
    # batch (blocks in my, mx raster order via the reshape/transpose);
    # only the serial bit-writing walks block-by-block.
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        - 128.0
    )
    coefs = _DCT_M @ blocks @ _DCT_M.T
    qz = np.rint(coefs / q).astype(np.int64)
    zz_all = qz.reshape(-1, 64)[:, _ZZ_NP].tolist()
    bw = _BitWriter()
    prev_dc = 0
    for zz in zz_all:
        # DC: differential category + amplitude bits
        diff = zz[0] - prev_dc
        prev_dc = zz[0]
        t = _category(diff)
        code, ln = dc_codes[t]
        bw.write(code, ln)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        # AC: run/size with ZRL and EOB
        run = 0
        for k in range(1, 64):
            v = zz[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            t = _category(v)
            code, ln = ac_codes[(run << 4) | t]
            bw.write(code, ln)
            bw.write(v if v >= 0 else v + (1 << t) - 1, t)
            run = 0
        if run:
            code, ln = ac_codes[0x00]  # EOB
            bw.write(code, ln)

    sof = struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0])
    return (
        _JFIF_PREFIX
        + dqt
        + _seg(0xC0, sof)
        + _STD_DHT_SEG
        + _SOS_SEG
        + bw.flush()
        + b"\xff\xd9"  # EOI
    )


# ---------------------------------------------------------------------------
# decoder (baseline sequential, 1..4 components, subsampling, restarts)
# ---------------------------------------------------------------------------


def decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode a BASELINE-SEQUENTIAL (SOF0) JPEG. Returns
    ``(width, height, channels, raster)`` — 8-bit samples, interleaved
    row-major; 3-component scans are converted JFIF YCbCr->RGB, single
    component stays grayscale. Progressive (SOF2) and arithmetic-coded
    streams raise ValueError: out of baseline scope, fail loudly —
    and so does EVERY malformed stream (truncation mid-entropy-data,
    undefined table ids, short segment headers): the low-level
    IndexError/KeyError/struct.error those raise internally are
    normalized to ValueError so quarantine tiers can classify on one
    exception type."""
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(
            f"corrupt JPEG stream: {type(e).__name__}: {e}"
        ) from e


def _decode_jpeg(data: bytes) -> tuple[int, int, int, bytes]:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    restart = 0
    frame = None
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at byte {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if pos + 4 > len(data):
            raise ValueError("truncated segment header")
        ln = (data[pos + 2] << 8) | data[pos + 3]
        body = data[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                n = 64 * (2 if pq else 1)
                quant[tq] = _dqt_table(body[i : i + n], pq)
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = body[i + 1 : i + 17]
                nvals = sum(bits)
                vals = body[i + 17 : i + 17 + nvals]
                huff[(tc, th)] = _decode_lut(bits, vals)
                i += 17 + nvals
        elif marker == 0xDD:  # DRI
            restart = (body[0] << 8) | body[1]
        elif marker == 0xC0 or marker == 0xC1:  # baseline / ext. seq.
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"only 8-bit precision: {prec}")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 15, tq))
            frame = (w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported frame type 0xFF{marker:02X} "
                "(baseline sequential only)"
            )
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            return _decode_scan(
                data, pos + 2 + ln, frame, body, quant, huff, restart
            )
        pos += 2 + ln
    raise ValueError("no scan in stream")


def _decode_scan(data, pos, frame, sos, quant, huff, restart):
    w, h, comps = frame
    nc = len(comps)
    if w * h * nc > _MAX_RASTER_BYTES:
        raise ValueError(
            f"declared raster {w}x{h}x{nc} exceeds "
            f"{_MAX_RASTER_BYTES} byte cap"
        )
    ns = sos[0]
    if ns != nc:
        raise ValueError("non-interleaved multi-scan streams unsupported")
    scan_tbl = {}
    for i in range(ns):
        cs, tt = sos[1 + 2 * i], sos[2 + 2 * i]
        scan_tbl[cs] = (tt >> 4, tt & 15)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for cid, hi, vi, _tq in comps:
        if hi < 1 or vi < 1 or hmax % hi or vmax % vi:
            # T.81 allows e.g. 3:2 ratios; our replication upsampler
            # handles only integral ones — mis-decoding silently on
            # the wrong chroma grid is worse than refusing
            raise ValueError(
                f"unsupported non-integral sampling ratio for "
                f"component {cid}: {hi}x{vi} vs max {hmax}x{vmax}"
            )
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)

    # Per-component decode tables and sparse-coefficient accumulators.
    # The entropy decode is inherently serial (variable-length codes +
    # the DC prediction chain), so the per-symbol loop stays Python —
    # but table-driven: ONE 16-bit-window list lookup per Huffman
    # symbol (vs walking the code bit-by-bit through a dict), raw
    # value bits sliced straight off the accumulator, and NO per-block
    # numpy work. Coefficients collect as (block, slot, value)
    # triplets; dequantize + IDCT + plane placement happen ONCE per
    # component as batched numpy below — this loop was the profile's
    # whole cost (r7 verdict ask #4).
    tabs = []
    for cid, hi, vi, tq in comps:
        dc_sym, dc_len = huff[(0, scan_tbl[cid][0])]
        ac_sym, ac_len = huff[(1, scan_tbl[cid][1])]
        tabs.append((dc_sym, dc_len, ac_sym, ac_len, hi * vi))
    b_idx: list[list] = [[] for _ in range(nc)]  # block ordinal
    b_pos: list[list] = [[] for _ in range(nc)]  # natural 0..63 slot
    b_val: list[list] = [[] for _ in range(nc)]  # signed amplitude
    nblk = [0] * nc

    total_mcus = mcus_x * mcus_y
    interval = restart if restart else total_mcus
    mcu_done = 0
    rst_n = 0
    br_pos = pos
    zigzag = ZIGZAG
    while mcu_done < total_mcus:
        if mcu_done:  # a fresh interval begins at an RSTn marker
            mpos = br_pos
            while data[mpos + 1] == 0xFF:  # fill bytes (B.1.1.2)
                mpos += 1
            if data[mpos] != 0xFF or data[mpos + 1] != 0xD0 + (rst_n & 7):
                raise ValueError("expected restart marker")
            rst_n = (rst_n + 1) & 7
            br_pos = mpos + 2
        buf, br_pos = _destuff_interval(data, br_pos)
        L = len(buf)
        acc = n = p = padded = 0
        pred = [0] * nc
        n_int = min(interval, total_mcus - mcu_done)
        for _ in range(n_int):
            for ci in range(nc):
                dc_sym, dc_len, ac_sym, ac_len, bpm = tabs[ci]
                pred_c = pred[ci]
                idx = b_idx[ci]
                pos_l = b_pos[ci]
                val = b_val[ci]
                blk = nblk[ci]
                for _b in range(bpm):
                    # DC: one LUT hit + the category's raw bits
                    if n < 32:
                        acc &= (1 << n) - 1
                        while n < 32:
                            if p < L:
                                acc = (acc << 8) | buf[p]
                                p += 1
                            else:
                                acc <<= 8  # virtual zeros past the end
                                padded += 8
                            n += 8
                    win = (acc >> (n - 16)) & 0xFFFF
                    t = dc_len[win]
                    if t == 0:
                        raise ValueError(
                            "invalid Huffman code in entropy data"
                        )
                    n -= t
                    s = dc_sym[win]
                    if s:
                        n -= s
                        v = (acc >> n) & ((1 << s) - 1)
                        if v < (1 << (s - 1)):  # T.81 F.2.2.1 EXTEND
                            v += (-1 << s) + 1
                        pred_c += v
                    idx.append(blk)
                    pos_l.append(0)
                    val.append(pred_c)
                    k = 1
                    while k < 64:
                        if n < 32:
                            acc &= (1 << n) - 1
                            while n < 32:
                                if p < L:
                                    acc = (acc << 8) | buf[p]
                                    p += 1
                                else:
                                    acc <<= 8
                                    padded += 8
                                n += 8
                        win = (acc >> (n - 16)) & 0xFFFF
                        t = ac_len[win]
                        if t == 0:
                            raise ValueError(
                                "invalid Huffman code in entropy data"
                            )
                        n -= t
                        rs = ac_sym[win]
                        s = rs & 15
                        if s == 0:
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC index overflow")
                        n -= s
                        v = (acc >> n) & ((1 << s) - 1)
                        if v < (1 << (s - 1)):
                            v += (-1 << s) + 1
                        idx.append(blk)
                        pos_l.append(zigzag[k])
                        val.append(v)
                        k += 1
                    blk += 1
                pred[ci] = pred_c
                nblk[ci] = blk
        # every consumed bit must have been real: bits are FIFO, so
        # consuming into the virtual zero padding == truncated stream
        if (8 * p + padded) - n > 8 * L:
            raise ValueError("truncated entropy data")
        mcu_done += n_int

    # Batched math: scatter the sparse coefficients, dequantize,
    # IDCT all blocks of a component in one broadcast matmul, then
    # reassemble the plane with a reshape/transpose (no Python loop
    # touches pixels).
    planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        coef = np.zeros((nblk[ci], 64), dtype=np.float64)
        coef[b_idx[ci], b_pos[ci]] = b_val[ci]
        coef *= quant[tq]  # flat natural-order table
        blocks = _DCT_M.T @ coef.reshape(-1, 8, 8) @ _DCT_M
        planes.append(
            blocks.reshape(mcus_y, mcus_x, vi, hi, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcus_y * vi * 8, mcus_x * hi * 8)
        )
    out_planes = []
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        p = np.clip(np.floor(planes[ci] + 128.5), 0, 255)
        # upsample to full geometry by sample replication, then crop
        if hi != hmax or vi != vmax:
            p = np.repeat(np.repeat(p, vmax // vi, 0), hmax // hi, 1)
        out_planes.append(p[:h, :w])
    if nc == 1:
        raster = out_planes[0].astype(np.uint8)
        return w, h, 1, raster.tobytes()
    if nc == 3:
        y, cb, cr = out_planes
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        rgb = np.stack(
            [
                np.clip(np.floor(r + 0.5), 0, 255),
                np.clip(np.floor(g + 0.5), 0, 255),
                np.clip(np.floor(b + 0.5), 0, 255),
            ],
            axis=-1,
        ).astype(np.uint8)
        return w, h, 3, rgb.tobytes()
    raise ValueError(f"unsupported component count {nc}")
