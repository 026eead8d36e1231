"""Baseline JFIF/JPEG codec from scratch (numpy + stdlib only — no Pillow/
libjpeg in this environment, SURVEY.md §7.0; closes the r04 VERDICT
"largest remaining real-user gap": a user's image corpus is JPEG before it
is PNG).

Wire format implemented per the public ITU-T T.81 spec:

encode_jpeg  baseline sequential DCT, 8-bit, YCbCr (JFIF), 4:4:4 or 4:2:0
             chroma subsampling, Annex-K quantization tables scaled by the
             libjpeg quality formula, Annex-K Huffman tables, byte-stuffed
             entropy segment. Grayscale (h,w) input → single-component scan.
decode_jpeg  baseline sequential SOF0: DQT/DHT/DRI/SOS parsing (tables come
             from the STREAM, not assumed), canonical Huffman decode,
             dequantize → inverse zigzag → IDCT, restart markers, sampling
             factors 1–2 (4:4:4, 4:2:2, 4:4:0, 4:2:0), nearest-neighbor
             chroma upsample, YCbCr→RGB. Progressive (SOF2) / arithmetic /
             12-bit raise typed NotImplementedError (the quarantine gate
             routes them to dead-letter instead of crashing the task).

The DCT is the orthonormal 8×8 DCT-II matrix: D @ f @ D.T equals T.81's
1/4·C(u)C(v)·ΣΣ form exactly, so quantization behaves identically to
libjpeg's float path. Round-trip PSNR at the default quality 90 is ≥ 40 dB
on photographic-statistics fixtures (the BASELINE.json lossy invariant),
asserted in tests/test_images_codec.py.
"""

from __future__ import annotations

import struct

import numpy as np

# --- constants (ITU-T T.81 Annex K — public spec tables) --------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

_LUM_Q = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_CHR_Q = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex-K Huffman specs: (bits[1..16] counts, symbol values)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
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
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
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
)


def _dct_matrix() -> np.ndarray:
    k = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    d = 0.5 * np.cos(np.pi * (2 * x + 1) * k / 16.0)
    d[0] *= 1.0 / np.sqrt(2.0)
    return d


_D = _dct_matrix()


class JpegError(ValueError):
    """Malformed/truncated JPEG stream (quarantine-typed)."""


# --- Huffman -----------------------------------------------------------------


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per T.81 C.2 canonical assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[i]] = (code, length)
            code += 1
            i += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) → symbol."""
    return {(ln, c): s for s, (c, ln) in _canonical_codes(bits, vals).items()}


def _magnitude(v: int) -> tuple[int, int]:
    """value → (category s, s extra bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _extend(bits_val: int, s: int) -> int:
    if s == 0:
        return 0
    return bits_val if bits_val >= (1 << (s - 1)) else bits_val - (1 << s) + 1


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-fill per spec


class _BitReader:
    """Entropy-segment reader with byte unstuffing; stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise JpegError("truncated entropy segment")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise JpegError("truncated after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                # a real marker: signal and emit filler bits (decode loop
                # must stop consuming before relying on them)
                self.marker = nxt
                self.acc = (self.acc << 8) | 0xFF
                self.n += 8
                return
        self.acc = (self.acc << 8) | b
        self.n += 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            s = table.get((length, code))
            if s is not None:
                return s
        raise JpegError("invalid Huffman code")

    def align_restart(self, expected: int) -> None:
        """Consume padding + the RSTn marker at a restart interval."""
        self.acc = 0
        self.n = 0
        # marker may already have been spotted by _fill
        if self.marker is None:
            while self.pos + 1 < len(self.data):
                if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                    self.marker = self.data[self.pos + 1]
                    self.pos += 2
                    break
                self.pos += 1
            else:
                raise JpegError("missing restart marker")
        else:
            self.pos += 1  # _fill consumed the 0xFF; step past the marker id
        m = self.marker
        self.marker = None
        if m != 0xD0 + (expected & 7):
            raise JpegError(f"bad restart marker 0x{m:02x}")


# --- quantization ------------------------------------------------------------


def _scaled_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = int(min(100, max(1, quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_LUM_Q, _CHR_Q):
        q = (base * scale + 50) // 100
        out.append(np.clip(q, 1, 255).astype(np.int64))
    return out[0], out[1]


# --- encoder -----------------------------------------------------------------


def _blockify(chan: np.ndarray) -> np.ndarray:
    """(H, W) padded-to-8 channel → (n_blocks, 8, 8) in raster order."""
    h, w = chan.shape
    return (
        chan.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _pad_to(chan: np.ndarray, mult: int) -> np.ndarray:
    h, w = chan.shape
    ph = (-h) % mult
    pw = (-w) % mult
    if ph or pw:
        chan = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
    return chan


def _encode_channel_blocks(
    blocks_q: np.ndarray,
    writer: _BitWriter,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    """Entropy-encode quantized zigzag blocks (n, 64); returns new DC pred."""
    for zz in blocks_q:
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s, extra = _magnitude(diff)
        code, ln = dc_codes[s]
        writer.write(code, ln)
        if s:
            writer.write(extra, s)
        run = 0
        last_nz = int(np.nonzero(zz[1:])[0][-1]) + 1 if np.any(zz[1:]) else 0
        for i in range(1, last_nz + 1):
            v = int(zz[i])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                writer.write(code, ln)
                run -= 16
            s, extra = _magnitude(v)
            code, ln = ac_codes[(run << 4) | s]
            writer.write(code, ln)
            writer.write(extra, s)
            run = 0
        if last_nz < 63:
            code, ln = ac_codes[0x00]  # EOB
            writer.write(code, ln)
    return pred


def _dht_segment(tc: int, th: int, spec: tuple[list[int], list[int]]) -> bytes:
    bits, vals = spec
    payload = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def _dqt_segment(tid: int, table_zz: np.ndarray) -> bytes:
    payload = bytes([tid]) + bytes(int(v) for v in table_zz)
    return b"\xff\xdb" + struct.pack(">H", len(payload) + 2) + payload


_SUBSAMPLING = {"444": (1, 1), "420": (2, 2), "422": (2, 1), "440": (1, 2)}


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (h, w, 3) RGB or (h, w) grayscale → baseline JFIF bytes.

    subsampling: "444" (no chroma subsampling — highest fidelity, the
    engine default so the PSNR ≥ 40 dB invariant holds at quality 90),
    "420" (2×2 chroma box-average — the common camera/web layout, ~half
    the bytes), or "422"/"440" (one-axis halving). restart_interval > 0
    emits a DRI segment and an RSTn marker every that-many MCUs — the
    wire feature real camera files use for error resilience (and what
    lets the decoder's restart path be round-trip tested)."""
    if pixels.dtype != np.uint8:
        raise ValueError("encode_jpeg expects uint8 pixels")
    gray = pixels.ndim == 2
    if not gray and (pixels.ndim != 3 or pixels.shape[2] != 3):
        raise ValueError("expected (h, w, 3) RGB or (h, w) grayscale")
    if subsampling not in _SUBSAMPLING:
        raise ValueError("subsampling must be one of '444' '420' '422' '440'")
    h, w = pixels.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    lum_q, chr_q = _scaled_tables(quality)
    lum_q_zz = lum_q[ZIGZAG]
    chr_q_zz = chr_q[ZIGZAG]

    if gray:
        ych = pixels.astype(np.float64)
        comps = [(1, 1, 1, 0)]  # id, hs, vs, qtab
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        ych = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
        fh, fv = _SUBSAMPLING[subsampling]
        if (fh, fv) != (1, 1):
            comps = [(1, fh, fv, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

            def _down(chan: np.ndarray) -> np.ndarray:
                ph = (-chan.shape[0]) % fv
                pw = (-chan.shape[1]) % fh
                if ph or pw:
                    chan = np.pad(chan, ((0, ph), (0, pw)), mode="edge")
                return chan.reshape(
                    chan.shape[0] // fv, fv, chan.shape[1] // fh, fh
                ).mean(axis=(1, 3))

            cb = _down(cb)
            cr = _down(cr)
        else:
            comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]

    # header segments
    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    out += _dqt_segment(0, lum_q_zz)
    if not gray:
        out += _dqt_segment(1, chr_q_zz)
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hs, vs, qt in comps:
        sof += bytes([cid, (hs << 4) | vs, qt])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_LUM)
    out += _dht_segment(1, 0, _AC_LUM)
    if not gray:
        out += _dht_segment(0, 1, _DC_CHR)
        out += _dht_segment(1, 1, _AC_CHR)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(comps)])
    for cid, _, _, _ in comps:
        sos += bytes([cid, 0x00 if cid == 1 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    # entropy-coded data, interleaved per MCU
    writer = _BitWriter()
    dc_l = _canonical_codes(*_DC_LUM)
    ac_l = _canonical_codes(*_AC_LUM)
    dc_c = _canonical_codes(*_DC_CHR)
    ac_c = _canonical_codes(*_AC_CHR)
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    chans = [ych] if gray else [ych, cb, cr]
    preds = [0] * len(comps)
    # per-component quantized blocks laid out on the component's block grid
    comp_blocks = []
    comp_bw = []
    for (cid, hs, vs, qt), chan in zip(comps, chans):
        # pad the component plane so every MCU has its hs×vs blocks
        padded = _pad_to(chan, 8)
        need_w = mcux * hs * 8
        need_h = mcuy * vs * 8
        ph = need_h - padded.shape[0]
        pw = need_w - padded.shape[1]
        if ph > 0 or pw > 0:
            padded = np.pad(padded, ((0, max(ph, 0)), (0, max(pw, 0))), mode="edge")
        qtab = lum_q if qt == 0 else chr_q
        blocks = _blockify(padded) - 128.0
        coefs = np.einsum("ij,njk,lk->nil", _D, blocks, _D).reshape(-1, 64)
        qz = np.round(coefs / qtab[np.newaxis, :]).astype(np.int64)[:, ZIGZAG]
        comp_blocks.append(qz)
        comp_bw.append(padded.shape[1] // 8)
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                writer.flush()
                # markers bypass byte stuffing
                writer.out += bytes(
                    [0xFF, 0xD0 + ((mcu_i // restart_interval - 1) & 7)]
                )
                preds = [0] * len(comps)
            mcu_i += 1
            for ci, (cid, hs, vs, qt) in enumerate(comps):
                dc = dc_l if qt == 0 else dc_c
                ac = ac_l if qt == 0 else ac_c
                bw = comp_bw[ci]
                for by in range(vs):
                    for bx in range(hs):
                        idx = (my * vs + by) * bw + (mx * hs + bx)
                        preds[ci] = _encode_channel_blocks(
                            comp_blocks[ci][idx : idx + 1], writer, dc, ac, preds[ci]
                        )
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- decoder -----------------------------------------------------------------


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes → uint8 (h, w, 3) RGB (grayscale replicates to 3
    channels — the engine's image tables are RGB-shaped).

    Raises JpegError (a ValueError) on malformed/truncated streams and
    NotImplementedError on progressive/arithmetic/12-bit variants; both are
    quarantine-typed by imageops.with_decode_status."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise JpegError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[tuple[int, int, int, int]] = []  # id, hs, vs, qtab
    h = w = 0
    restart = 0
    scan_comps: list[tuple[int, int, int]] = []  # id, dc_tab, ac_tab
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before SOS
            raise JpegError("no scan data")
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            continue
        if pos + 2 > len(data):
            raise JpegError("truncated segment header")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise JpegError("truncated segment")
        if marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc_th = seg[p]
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                if len(vals) != n:
                    raise JpegError("truncated DHT")
                htabs[(tc_th >> 4, tc_th & 0xF)] = _decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq_tq = seg[p]
                if pq_tq >> 4:
                    raise NotImplementedError("16-bit quantization tables")
                q = np.array(list(seg[p + 1 : p + 65]), dtype=np.int64)
                if len(q) != 64:
                    raise JpegError("truncated DQT")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = q
                qtabs[pq_tq & 0xF] = tbl
                p += 65
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit precision")
            if h == 0 or w == 0:
                raise JpegError("zero dimension")
            comps = []
            for i in range(nc):
                cid, hv, qt = seg[6 + 3 * i : 9 + 3 * i]
                hs, vs = hv >> 4, hv & 0xF
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise NotImplementedError(f"sampling {hs}x{vs}")
                comps.append((cid, hs, vs, qt))
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG (SOF2)")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"SOF marker 0x{marker:02x}")
        elif marker == 0xDD:  # DRI
            (restart,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan_comps = []
            for i in range(ns):
                cid, tabs = seg[1 + 2 * i : 3 + 2 * i]
                scan_comps.append((cid, tabs >> 4, tabs & 0xF))
            pos += seglen
            break
        # APPn / COM / others: skip
        pos += seglen
    else:
        raise JpegError("no SOS marker")
    if not comps:
        raise JpegError("SOS before SOF")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    planes: dict[int, np.ndarray] = {}
    bw_: dict[int, int] = {}
    for cid, hs, vs, qt in comps:
        planes[cid] = np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64)
        bw_[cid] = mcux * hs

    reader = _BitReader(data, pos)
    preds = {cid: 0 for cid, _, _ in scan_comps}
    # entropy pass collects quantized-zigzag blocks + their block coords;
    # dequant + IDCT run batched per component afterwards (one einsum over
    # all blocks instead of a per-8x8 matmul inside the Python loop — the
    # decode hot path at corpus scale)
    comp_zz: dict[int, list[np.ndarray]] = {c[0]: [] for c in comps}
    comp_pos: dict[int, list[tuple[int, int]]] = {c[0]: [] for c in comps}
    mcu_i = 0
    rst_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and mcu_i and mcu_i % restart == 0:
                reader.align_restart(rst_i)
                rst_i = (rst_i + 1) & 7
                preds = {cid: 0 for cid, _, _ in scan_comps}
            for cid, dct, act in scan_comps:
                _, hs, vs, qt = by_id[cid]
                if qt not in qtabs:
                    raise JpegError(f"missing quant table {qt}")
                dc_tab = htabs.get((0, dct))
                ac_tab = htabs.get((1, act))
                if dc_tab is None or ac_tab is None:
                    raise JpegError("missing Huffman table")
                qtab = qtabs[qt]
                for by in range(vs):
                    for bx in range(hs):
                        zz = np.zeros(64, dtype=np.int64)
                        s = reader.read_symbol(dc_tab)
                        diff = _extend(reader.read_bits(s), s) if s else 0
                        preds[cid] += diff
                        zz[0] = preds[cid]
                        k = 1
                        while k < 64:
                            rs = reader.read_symbol(ac_tab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise JpegError("AC run past block end")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        comp_zz[cid].append(zz)
                        comp_pos[cid].append((my * vs + by, mx * hs + bx))
            mcu_i += 1

    for cid, hs, vs, qt in comps:
        if not comp_zz[cid]:
            continue
        qtab = qtabs[qt]
        zzs = np.stack(comp_zz[cid])  # (n, 64) zigzag order
        coefs = np.zeros_like(zzs, dtype=np.float64)
        coefs[:, ZIGZAG] = zzs * qtab[ZIGZAG]
        blocks = (
            np.einsum("ji,njk,kl->nil", _D, coefs.reshape(-1, 8, 8), _D) + 128.0
        )
        rows_i = np.array([p[0] for p in comp_pos[cid]])
        cols_i = np.array([p[1] for p in comp_pos[cid]])
        pl = planes[cid]
        view = pl.reshape(pl.shape[0] // 8, 8, pl.shape[1] // 8, 8).transpose(0, 2, 1, 3)
        view[rows_i, cols_i] = blocks

    # upsample to full size and color-convert
    full: list[np.ndarray] = []
    for cid, hs, vs, qt in comps:
        p = planes[cid]
        if hs != hmax or vs != vmax:
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        y = np.clip(full[0], 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    if len(full) != 3:
        raise NotImplementedError(f"{len(full)}-component JPEG")
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).round().astype(np.uint8)
