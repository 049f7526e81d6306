"""Baseline-JPEG codec (grayscale, sequential DCT) — pure stdlib +
numpy, built from the public ITU-T T.81 (1992) specification.

Scope: exactly what JPEG-in-TIFF (Compression=7, TIFF TechNote 2)
needs for single-band rasters — 8-bit grayscale, one scan, no
subsampling, no restart markers. The entropy tables are NOT the
Annex K examples: encoder and decoder share canonical fixed-length
tables (12 DC categories at 4 bits, 162 (run,size) AC symbols at 8
bits) written into the stream's DHT segments like any other baseline
file, so the output remains a spec-conforming interchange-format
JPEG any decoder can read.

Exactness: JPEG is lossy in general, but a block-CONSTANT 8x8 tile
has an integer DC coefficient (8*(v-128)) and zero AC, so with a
unit quantization table the decode is bit-exact — the property the
registered GeoTIFF-JPEG gate query builds on (its fixture raster is
block-constant and its DuckDB oracle replays the block formula).
The lossy path (arbitrary images, q>1) is pinned in tests against a
numpy reference of round(IDCT(round(DCT(x-128)/Q)*Q))+128 — exact
equality, which exercises zigzag/Huffman/bit-stuffing end to end
(entropy coding is lossless, so any container bug breaks equality).
"""

from __future__ import annotations

import struct

import numpy as np

# orthonormal 8x8 DCT-II matrix: F = A @ f @ A.T, f = A.T @ F @ A
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# zigzag scan order (T.81 Figure 5): index i -> (row, col)
_ZIGZAG = sorted(
    ((r, c) for r in range(8) for c in range(8)),
    key=lambda rc: (rc[0] + rc[1], rc[1] if (rc[0] + rc[1]) % 2 == 0 else rc[0]),
)
# zigzag index i -> flat row-major position, for the batched dezigzag
_ZZ_FLAT = np.array([r * 8 + c for r, c in _ZIGZAG], dtype=np.int64)

# canonical fixed-length entropy tables (see module docstring):
# DC: categories 0..11, all 4-bit codes; AC: every (run,size) symbol
# with size 1..10 plus ZRL (0xF0) and EOB (0x00), all 8-bit codes.
_DC_SYMBOLS = list(range(12))
_DC_BITS = [0] * 16
_DC_BITS[3] = len(_DC_SYMBOLS)  # BITS[i] = codes of length i+1
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0] * 16
_AC_BITS[7] = len(_AC_SYMBOLS)


def _canonical_codes(bits: list[int], symbols: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code generation."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for i, n in enumerate(bits):
        length = i + 1
        for _ in range(n):
            out[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
_AC_ENC = _canonical_codes(_AC_BITS, _AC_SYMBOLS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1  # one's complement
    return size, bits


def encode_gray(img: np.ndarray, quant: int = 1) -> bytes:
    """Encode a 2-D uint8 array as a baseline grayscale JPEG with a
    UNIFORM quantization table of value ``quant`` (1 = the lossless-
    on-block-constant setting). Edges pad by replication."""
    h, w = img.shape
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.pad(img.astype(np.float64), ((0, ph - h), (0, pw - w)), mode="edge")
    # batched forward DCT + zigzag over the whole block stack (same
    # per-block A @ B @ A.T chain as the former scalar loop — the r7
    # decode-path lesson applied to encode; byte-identical output,
    # pinned by tests/test_format_properties.py)
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    ) - 128.0
    coeffs_all = np.rint((_A @ blocks @ _A.T) / quant).astype(np.int64)
    zz_all = coeffs_all.reshape(-1, 64)[:, _ZZ_FLAT]
    ac_rev = zz_all[:, :0:-1] != 0
    has_ac = ac_rev.any(axis=1)
    last_nz_all = np.where(has_ac, 63 - ac_rev.argmax(axis=1), 0)
    bw = _BitWriter()
    prev_dc = 0
    for bi in range(zz_all.shape[0]):
            zz = zz_all[bi].tolist()
            size, bits = _magnitude(zz[0] - prev_dc)
            prev_dc = zz[0]
            code, length = _DC_ENC[size]
            bw.write(code, length)
            if size:
                bw.write(bits, size)
            run = 0
            last_nz = int(last_nz_all[bi])
            for i in range(1, last_nz + 1):
                if zz[i] == 0:
                    run += 1
                    continue
                while run > 15:
                    c0, l0 = _AC_ENC[0xF0]
                    bw.write(c0, l0)
                    run -= 16
                size, bits = _magnitude(zz[i])
                c0, l0 = _AC_ENC[(run << 4) | size]
                bw.write(c0, l0)
                bw.write(bits, size)
                run = 0
            if last_nz < 63:
                c0, l0 = _AC_ENC[0x00]  # EOB
                bw.write(c0, l0)
    entropy = bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    qt = bytes(quant for _ in range(64))
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + b"\x00" + qt
    out += b"\xff\xc0" + struct.pack(">HBHHB", 2 + 6 + 3, 8, h, w, 1)
    out += bytes((1, 0x11, 0))  # comp id 1, H=V=1, quant table 0
    for cls, bits, syms in ((0, _DC_BITS, _DC_SYMBOLS), (1, _AC_BITS, _AC_SYMBOLS)):
        out += b"\xff\xc4" + struct.pack(">HB", 2 + 1 + 16 + len(syms), cls << 4)
        out += bytes(bits) + bytes(syms)
    out += b"\xff\xda" + struct.pack(">HB", 2 + 1 + 2 + 3, 1)
    out += bytes((1, 0x00, 0, 63, 0))  # comp 1 uses DC0/AC0; full scan
    out += entropy
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- fast decode path (r7) -------------------------------------------------
#
# The r6 decoder (since removed) ran the T.81 entropy decode one BIT at
# a time through a per-bit reader (~30-60 interpreter ops per symbol)
# and one numpy 8x8 IDCT per block (~10us of per-call dispatch each) —
# measured 0.18 ms/image, the repo's only per-pixel-Python hot path (VERDICT r6
# "Next round" #5). This path keeps the decode pure-Python+numpy (no
# codec libs in the container) but restructures it:
#   * one 64k-entry Huffman lookup table per (bits, syms) pair, cached
#     across images (our encoder emits the fixed T.81 Annex K tables,
#     so the build cost is paid once per process): peek 16 bits, one
#     list index -> (symbol, code length), consume length.
#   * the entropy segment is UNSTUFFED ONCE (0xFF00 -> 0xFF) and read
#     through a word-refill accumulator instead of per-byte stuffing
#     checks on every fill.
#   * coefficients accumulate into one (n_blocks, 64) int array;
#     dezigzag, dequant and the IDCT run BATCHED over all blocks in
#     three vectorized numpy ops (the per-block matmul chain
#     A.T @ (C*Q) @ A is preserved exactly — numpy broadcasts the
#     stacked form through the same dgemm reduction, and
#     tests/test_multimodal.py pins decode equality).
# Production note (unchanged from r6): at true 100 TB image scale the
# right decode tier is a JVM/native codec behind the same mapInPandas
# schema; this path is the container-bound fallback, now ~5-10x off
# its former constant rather than 0.18 ms/image.

_LUT_CACHE: dict[bytes, list[int]] = {}


def _huff_lut(bits: bytes, syms: bytes) -> list[int]:
    """65536-entry table: 16-bit peek -> (symbol << 5) | code_length,
    0 where no code matches (invalid stream)."""
    key = bytes(bits) + b"\x00" + bytes(syms)
    lut = _LUT_CACHE.get(key)
    if lut is None:
        lut = [0] * 65536
        for sym, (code, length) in _canonical_codes(
            list(bits), list(syms)
        ).items():
            base = code << (16 - length)
            entry = (sym << 5) | length
            for i in range(base, base + (1 << (16 - length))):
                lut[i] = entry
        _LUT_CACHE[key] = lut
    return lut


def _unstuff_entropy(data: bytes, pos: int) -> bytes:
    """Entropy-coded bytes from ``pos`` to the next marker, with the
    T.81 §F.1.2.3 stuffed 0x00 after each 0xFF removed."""
    i = pos
    n = len(data)
    while True:
        j = data.find(b"\xff", i)
        if j < 0 or j + 1 >= n:
            end = n
            break
        if data[j + 1] == 0x00:
            i = j + 2
            continue
        end = j  # a real marker (EOI) terminates the scan
        break
    return data[pos:end].replace(b"\xff\x00", b"\xff")


def decode_gray(data: bytes) -> np.ndarray:
    """Decode a baseline grayscale JPEG produced by :func:`encode_gray`
    (or any single-component baseline file with one DC and one AC
    table) to a 2-D uint8 array."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: list[int] | None = None
    h = w = 0
    dc_table: dict | None = None
    ac_table: dict | None = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack_from(">H", data, pos)[0]
        seg = data[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            if seg[0] & 0xF0:
                raise ValueError("16-bit quant tables unsupported")
            qt = list(seg[1:65])
        elif marker == 0xC0:  # SOF0
            precision, h, w, nf = struct.unpack_from(">BHHB", seg, 0)
            if precision != 8 or nf != 1:
                raise ValueError("only 8-bit single-component baseline")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline sequential (SOF0) supported")
        elif marker == 0xC4:  # DHT (may hold several tables)
            off = 0
            while off < len(seg):
                cls = seg[off] >> 4
                bits = seg[off + 1 : off + 17]
                n = sum(bits)
                syms = seg[off + 17 : off + 17 + n]
                table = _huff_lut(bits, syms)
                if cls == 0:
                    dc_table = table
                else:
                    ac_table = table
                off += 17 + n
        elif marker == 0xDA:  # SOS — entropy data follows
            pos += seg_len
            if qt is None or dc_table is None or ac_table is None or not h:
                raise ValueError("SOS before DQT/DHT/SOF0")
            stream = _unstuff_entropy(data, pos)
            bh, bwd = -(-h // 8), -(-w // 8)
            nblocks = bh * bwd
            zz_all = np.zeros((nblocks, 64), dtype=np.int64)
            # word-refill bit accumulator over the unstuffed stream
            # (spec §F.2.2.5: past-end reads are 1-filled)
            acc = 0
            nbits = 0
            spos = 0
            slen = len(stream)
            prev_dc = 0
            for bi in range(nblocks):
                zz = zz_all[bi]
                # DC
                if nbits < 16:
                    chunk = stream[spos : spos + 4]
                    spos += len(chunk)
                    acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                    nbits += 8 * len(chunk)
                    if nbits < 16:
                        acc = (acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1)
                        nbits = 16
                entry = dc_table[(acc >> (nbits - 16)) & 0xFFFF]
                if entry == 0:
                    raise ValueError("invalid Huffman code in JPEG stream")
                size = entry >> 5
                need = (entry & 0x1F) + size
                while nbits < need:
                    chunk = stream[spos : spos + 4]
                    if chunk:
                        spos += len(chunk)
                        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                        nbits += 8 * len(chunk)
                    else:
                        acc = (acc << 8) | 0xFF
                        nbits += 8
                nbits -= entry & 0x1F
                if size:
                    nbits -= size
                    v = (acc >> nbits) & ((1 << size) - 1)
                    prev_dc += (
                        v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                    )
                zz[0] = prev_dc
                # AC
                k = 1
                while k < 64:
                    if nbits < 16:
                        chunk = stream[spos : spos + 4]
                        spos += len(chunk)
                        acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                        nbits += 8 * len(chunk)
                        if nbits < 16:
                            acc = (acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1)
                            nbits = 16
                    entry = ac_table[(acc >> (nbits - 16)) & 0xFFFF]
                    if entry == 0:
                        raise ValueError("invalid Huffman code in JPEG stream")
                    s = entry >> 5
                    if s == 0x00:  # EOB
                        nbits -= entry & 0x1F
                        break
                    if s == 0xF0:  # ZRL
                        nbits -= entry & 0x1F
                        k += 16
                        continue
                    size = s & 0x0F
                    need = (entry & 0x1F) + size
                    while nbits < need:
                        chunk = stream[spos : spos + 4]
                        if chunk:
                            spos += len(chunk)
                            acc = (acc << (8 * len(chunk))) | int.from_bytes(chunk, "big")
                            nbits += 8 * len(chunk)
                        else:
                            acc = (acc << 8) | 0xFF
                            nbits += 8
                    nbits -= (entry & 0x1F) + size
                    k += s >> 4
                    if k > 63:
                        raise ValueError("AC index overrun")
                    v = (acc >> nbits) & ((1 << size) - 1)
                    zz[k] = (
                        v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                    )
                    k += 1
                # keep the accumulator bounded (Python ints grow
                # without this; the low nbits bits are all that's live)
                acc &= (1 << nbits) - 1
            # batched dezigzag + dequant + IDCT: same per-block
            # A.T @ (C*Q) @ A chain as the scalar form, broadcast over
            # the block stack
            qzz = np.asarray(qt, dtype=np.float64)
            coeffs = np.zeros((nblocks, 64))
            coeffs[:, _ZZ_FLAT] = zz_all * qzz
            blocks = _A.T @ coeffs.reshape(nblocks, 8, 8) @ _A + 128.0
            out = (
                blocks.reshape(bh, bwd, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(bh * 8, bwd * 8)
            )
            return np.clip(np.rint(out[:h, :w]), 0, 255).astype(np.uint8)
        pos += seg_len
    raise ValueError("no SOS segment found")
