"""Baseline JPEG codec from the public spec (ITU-T T.81 / ISO 10918-1),
pure stdlib + numpy — closes the engine's last env-blocked media format:
web images are overwhelmingly JPEG, and ``image_feature_stage``
previously NULL-fell-back on all of them.

Decoder subset: the "baseline sequential DCT, Huffman" process every
web JPEG supports — SOF0, 8-bit samples, 1 or 3 components, any h/v
sampling factors up to 2 (4:4:4, 4:2:2, 4:2:0 …), restart intervals,
0xFF00 byte stuffing — PLUS progressive DCT (SOF2, T.81 Annex G.2):
spectral selection, successive approximation, interleaved DC scans,
EOB runs, and AC/DC refinement scans. Arithmetic coding, 12-bit and
hierarchical modes raise ``UnsupportedMediaError`` — the mapInPandas
callers NULL-fallback on those, same contract as the PNG codec.

Encoder subset (tests + corpus tooling, mirroring ``encode_png``):
grayscale or 4:4:4 YCbCr, one scan, Annex-K standard Huffman tables,
caller-supplied flat quantization (default all-ones ≈ "quality 100":
the FDCT→IDCT roundtrip is then exact up to float rounding, which is
what lets the tests pin the decoder arithmetic to ±1 without an
external reference codec).

Everything here is per-payload imperative work that belongs inside the
Arrow-batched media stages; numpy (baked into the workers) carries the
8×8 DCT arithmetic.
"""

from __future__ import annotations

import struct

import numpy as np

# single source of truth for the "not decodable here" contract
from .codecs import UnsupportedMediaError

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# 8×8 DCT-II basis: C[u, x] = c(u)/2 · cos((2x+1)uπ/16)
_C = np.zeros((8, 8))
for _u in range(8):
    _cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _C[_u, _x] = 0.5 * _cu * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


# --- Annex K.3 standard Huffman tables (public spec constants) ----------
_STD_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
                list(range(12)))
_STD_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                  list(range(12)))
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _build_decode_table(bits: list, values: list) -> dict:
    """(length, code) → symbol, per T.81 Annex C code assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _build_encode_table(bits: list, values: list) -> dict:
    """symbol → (code, length) — the encoder-side view of the same
    assignment."""
    return {sym: (code, length)
            for (length, code), sym in
            _build_decode_table(bits, values).items()}


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-stuffing removal; stops (raises) at any real marker."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise UnsupportedMediaError("truncated entropy data")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise UnsupportedMediaError("truncated after 0xFF")
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1                  # stuffed byte
                else:
                    raise UnsupportedMediaError(
                        f"marker 0xFF{nxt:02X} inside entropy data")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_to_restart(self) -> None:
        """Byte-align and consume one RSTn marker."""
        self.nbits = 0
        d = self.data
        p = self.pos
        # tolerate pad bits already consumed; expect FF Dn next
        if p + 1 < len(d) and d[p] == 0xFF and 0xD0 <= d[p + 1] <= 0xD7:
            self.pos = p + 2
        else:
            raise UnsupportedMediaError("missing restart marker")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def decode_jpeg(payload: bytes, max_pixels: int | None = None) -> dict:
    """Baseline JPEG → {width, height, channels, pixels} (same contract
    as ``codecs.decode_png``: pixels = row-major list of per-pixel
    tuples). Anything outside the baseline subset or malformed raises
    ``UnsupportedMediaError``."""
    from .codecs import MAX_PIXELS
    if max_pixels is None:
        max_pixels = MAX_PIXELS
    if payload[:2] != b"\xFF\xD8":
        raise UnsupportedMediaError("not a JPEG SOI")
    try:
        return _decode(payload, max_pixels)
    except UnsupportedMediaError:
        raise
    except (struct.error, IndexError, KeyError, ValueError,
            ZeroDivisionError, MemoryError) as e:
        raise UnsupportedMediaError(f"malformed JPEG: {e}") from e


def _decode(data: bytes, max_pixels: int) -> dict:
    pos = 2
    qt: dict = {}
    huff_dc: dict = {}
    huff_ac: dict = {}
    restart_interval = 0
    frame = None
    prog = None                                    # progressive state
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise UnsupportedMediaError("marker sync lost")
        marker = data[pos + 1]
        if marker == 0xFF:                         # fill byte (B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:                         # EOI
            break
        if pos + 4 > len(data):
            break
        seg_len = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        seg = data[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:                         # DQT
            i = 0
            while i < len(seg):
                prec, tid = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                n = 64 * (2 if prec else 1)
                raw = seg[i:i + n]
                i += n
                vals = (struct.unpack(f">{64}H", raw) if prec
                        else list(raw))
                tab = np.zeros(64)
                for z, v in enumerate(vals):
                    tab[ZIGZAG[z]] = v
                qt[tid] = tab.reshape(8, 8)
        elif marker == 0xC4:                       # DHT
            i = 0
            while i < len(seg):
                cls, tid = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                nv = sum(bits)
                values = list(seg[i + 17:i + 17 + nv])
                i += 17 + nv
                tbl = _build_decode_table(bits, values)
                (huff_ac if cls else huff_dc)[tid] = tbl
        elif marker in (0xC0, 0xC1, 0xC2):         # SOF0/1 (seq), SOF2 (prog)
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8 or nc not in (1, 3):
                raise UnsupportedMediaError(
                    f"JPEG subset: 8-bit 1/3-component (got prec={prec} "
                    f"nc={nc})")
            if w * h > max_pixels:
                raise UnsupportedMediaError(
                    f"JPEG {w}x{h} exceeds the {max_pixels}-pixel bound")
            comps = []
            for ci in range(nc):
                cid, samp, tq = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F,
                              "tq": tq})
            frame = {"w": w, "h": h, "comps": comps,
                     "progressive": marker == 0xC2}
            if marker == 0xC2:
                prog = _prog_init(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise UnsupportedMediaError(
                f"JPEG subset: sequential or progressive Huffman only "
                f"(SOF{marker - 0xC0})")
        elif marker == 0xDD:                       # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:                       # SOS → entropy data
            if frame is None:
                raise UnsupportedMediaError("SOS before SOF")
            ns = seg[0]
            scan = {}
            order = []
            for si in range(ns):
                cs, tables = seg[1 + 2 * si:3 + 2 * si]
                scan[cs] = (tables >> 4, tables & 0x0F)
                order.append(cs)
            if not frame["progressive"]:
                return _decode_scan(data, pos, frame, scan, qt, huff_dc,
                                    huff_ac, restart_interval)
            ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            pos = _prog_scan(data, pos, frame, prog, order, scan,
                             huff_dc, huff_ac, restart_interval,
                             ss, se, ahal >> 4, ahal & 0x0F)
        # APPn/COM/DNL etc.: skipped
    if frame is not None and frame.get("progressive") and prog["scans"]:
        return _prog_assemble(frame, prog, qt)
    raise UnsupportedMediaError("no SOS scan found")


def _decode_scan(data: bytes, pos: int, frame: dict, scan: dict,
                 qt: dict, huff_dc: dict, huff_ac: dict,
                 restart_interval: int) -> dict:
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(1 <= c["h"] <= 2 and 1 <= c["v"] <= 2 for c in comps):
        raise UnsupportedMediaError("JPEG subset: sampling factors 1-2")
    if len(scan) != len(comps):
        # this decoder handles exactly one scan; a partial-component
        # scan means a multi-scan (non-interleaved per-component) file
        raise UnsupportedMediaError(
            "JPEG subset: single interleaved scan covering all "
            "components")
    if len(comps) == 1:
        # T.81 A.2: an ns=1 scan is NON-interleaved — one 8×8 block per
        # MCU in raster order over the component's own block grid,
        # regardless of the SOF sampling factors (grayscale files from
        # color-preserving tools keep 2×2 luma factors). MCU tiling
        # here would scramble blocks and misalign restart counting.
        return _decode_scan_single(data, pos, frame, scan, qt, huff_dc,
                                   huff_ac, restart_interval)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = [np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))
              for c in comps]
    reader = _BitReader(data, pos)
    pred = [0] * len(comps)
    for my in range(mcuy):
        for mx in range(mcux):
            mcu_idx = my * mcux + mx
            if restart_interval and mcu_idx and \
                    mcu_idx % restart_interval == 0:
                reader.align_to_restart()
                pred = [0] * len(comps)
            for ci, c in enumerate(comps):
                td, ta = scan[c["id"]]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        coef = _decode_block(reader, huff_dc[td],
                                             huff_ac[ta])
                        pred[ci] += coef[0]
                        coef[0] = pred[ci]
                        zz = np.zeros(64)
                        for z in range(64):
                            zz[ZIGZAG[z]] = coef[z]
                        block = _idct2(zz.reshape(8, 8) * q) + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = block
    # single-component frames never reach here (dispatched to
    # _decode_scan_single above), so this is always the 3-component path
    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] < hmax or c["v"] < vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w])
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0,
                  255).astype(np.uint8).reshape(-1, 3)
    pixels = [tuple(int(v) for v in px) for px in rgb]
    return {"width": w, "height": h, "channels": 3, "pixels": pixels}


def _decode_scan_single(data: bytes, pos: int, frame: dict, scan: dict,
                        qt: dict, huff_dc: dict, huff_ac: dict,
                        restart_interval: int) -> dict:
    """Non-interleaved grayscale scan: raster 8×8 blocks, restart
    interval counted per block (= per MCU in an ns=1 scan)."""
    c = frame["comps"][0]
    w, h = frame["w"], frame["h"]
    td, ta = scan[c["id"]]
    q = qt[c["tq"]]
    bx_n = -(-w // 8)
    by_n = -(-h // 8)
    plane = np.zeros((by_n * 8, bx_n * 8))
    reader = _BitReader(data, pos)
    pred = 0
    for bi in range(bx_n * by_n):
        if restart_interval and bi and bi % restart_interval == 0:
            reader.align_to_restart()
            pred = 0
        coef = _decode_block(reader, huff_dc[td], huff_ac[ta])
        pred += coef[0]
        coef[0] = pred
        zz = np.zeros(64)
        for z in range(64):
            zz[ZIGZAG[z]] = coef[z]
        y0 = (bi // bx_n) * 8
        x0 = (bi % bx_n) * 8
        plane[y0:y0 + 8, x0:x0 + 8] = _idct2(zz.reshape(8, 8) * q) + 128.0
    gray = np.clip(np.rint(plane[:h, :w]), 0, 255).astype(np.uint8)
    pixels = [(int(v),) for v in gray.reshape(-1)]
    return {"width": w, "height": h, "channels": 1, "pixels": pixels}


def _decode_block(reader: _BitReader, dc_tbl: dict,
                  ac_tbl: dict) -> np.ndarray:
    coef = np.zeros(64)
    t = _huff(reader, dc_tbl)
    coef[0] = _extend(reader.bits(t), t) if t else 0
    k = 1
    while k < 64:
        rs = _huff(reader, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                            # ZRL: 16 zeros
                k += 16
                continue
            break                                  # EOB
        k += r
        if k > 63:
            raise UnsupportedMediaError("AC run past block end")
        coef[k] = _extend(reader.bits(s), s)
        k += 1
    return coef


def _huff(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise UnsupportedMediaError("invalid huffman code")


# ---------------------------------------------------------------------------
# Progressive decoder (T.81 Annex G.2 — successive approximation +
# spectral selection; bit-level semantics follow the spec's F.2/G.1
# flowcharts, the same ones libjpeg's phuff codec implements)
# ---------------------------------------------------------------------------

def _prog_init(frame: dict) -> dict:
    """Per-component coefficient planes (zigzag index order, int64 —
    refinement is BIT arithmetic) on the MCU-padded block grid, plus
    the actual (unpadded) grids non-interleaved scans iterate."""
    comps = frame["comps"]
    if not all(1 <= c["h"] <= 2 and 1 <= c["v"] <= 2 for c in comps):
        raise UnsupportedMediaError("JPEG subset: sampling factors 1-2")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    w, h = frame["w"], frame["h"]
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    st = {"mcux": mcux, "mcuy": mcuy, "hmax": hmax, "vmax": vmax,
          "coefs": [], "grids": [], "scans": 0}
    for c in comps:
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(h * c["v"]) // vmax)
        st["coefs"].append(
            np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64))
        st["grids"].append((-(-cw // 8), -(-ch // 8)))
    return st


def _prog_scan(data: bytes, pos: int, frame: dict, prog: dict,
               order: list, scan: dict, huff_dc: dict, huff_ac: dict,
               ri: int, ss: int, se: int, ah: int, al: int) -> int:
    """Decode ONE progressive scan into the coefficient planes; returns
    the offset of the next marker after the scan's entropy data."""
    comps = frame["comps"]
    idx = {c["id"]: i for i, c in enumerate(comps)}
    reader = _BitReader(data, pos)
    prog["scans"] += 1
    if ss == 0:                                    # DC scan
        if se != 0:
            raise UnsupportedMediaError("DC scan with Se != 0")
        preds = {cid: 0 for cid in order}
        if len(order) > 1:                         # interleaved, MCU order
            mcux, mcuy = prog["mcux"], prog["mcuy"]
            for mi in range(mcux * mcuy):
                if ri and mi and mi % ri == 0:
                    reader.align_to_restart()
                    preds = {cid: 0 for cid in order}
                my, mx = divmod(mi, mcux)
                for cid in order:
                    ci = idx[cid]
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blk = prog["coefs"][ci][my * c["v"] + by,
                                                    mx * c["h"] + bx]
                            preds[cid] = _prog_dc_block(
                                reader, blk, huff_dc.get(scan[cid][0]),
                                preds[cid], ah, al)
        else:                                      # single comp: raster
            cid = order[0]
            ci = idx[cid]
            abx, aby = prog["grids"][ci]
            for bi in range(abx * aby):
                if ri and bi and bi % ri == 0:
                    reader.align_to_restart()
                    preds[cid] = 0
                blk = prog["coefs"][ci][bi // abx, bi % abx]
                preds[cid] = _prog_dc_block(
                    reader, blk, huff_dc.get(scan[cid][0]), preds[cid],
                    ah, al)
    else:                                          # AC scan: ns must be 1
        if len(order) != 1:
            raise UnsupportedMediaError("interleaved AC scan")
        cid = order[0]
        ci = idx[cid]
        tbl = huff_ac.get(scan[cid][1])
        abx, aby = prog["grids"][ci]
        eobrun = 0
        for bi in range(abx * aby):
            if ri and bi and bi % ri == 0:
                reader.align_to_restart()
                eobrun = 0
            blk = prog["coefs"][ci][bi // abx, bi % abx]
            if ah == 0:
                eobrun = _prog_ac_first(reader, blk, tbl, ss, se, al,
                                        eobrun)
            else:
                eobrun = _prog_ac_refine(reader, blk, tbl, ss, se, al,
                                         eobrun)
    # past the scan's entropy bytes (pad bits / RSTn) to the next marker
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 and \
                not (0xD0 <= data[p + 1] <= 0xD7):
            return p
        p += 1
    return len(data)


def _prog_dc_block(reader: _BitReader, blk: np.ndarray, tbl: dict,
                   pred: int, ah: int, al: int) -> int:
    if ah == 0:                                    # first pass: coded diffs
        if tbl is None:
            raise UnsupportedMediaError("missing DC huffman table")
        t = _huff(reader, tbl)
        pred += _extend(reader.bits(t), t) if t else 0
        blk[0] = pred << al
    elif reader.bit():                             # refinement: one bit
        blk[0] = int(blk[0]) | (1 << al)
    return pred


def _prog_ac_first(reader: _BitReader, blk: np.ndarray, tbl: dict,
                   ss: int, se: int, al: int, eobrun: int) -> int:
    if eobrun > 0:
        return eobrun - 1
    if tbl is None:
        raise UnsupportedMediaError("missing AC huffman table")
    k = ss
    while k <= se:
        rs = _huff(reader, tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r < 15:                             # EOBn: run of EOBs
                return (1 << r) - 1 + (reader.bits(r) if r else 0)
            k += 16                                # ZRL
            continue
        k += r
        if k > se:
            raise UnsupportedMediaError("AC run past band end")
        blk[k] = _extend(reader.bits(s), s) << al
        k += 1
    return 0


def _prog_ac_refine(reader: _BitReader, blk: np.ndarray, tbl: dict,
                    ss: int, se: int, al: int, eobrun: int) -> int:
    """G.1.2.3 AC successive-approximation refinement: correction bits
    for already-nonzero coefficients are interleaved IN WALK ORDER with
    the newly-significant insertions; an EOB run still consumes the
    correction bits of every nonzero coefficient in the covered band
    tails."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        if tbl is None:
            raise UnsupportedMediaError("missing AC huffman table")
        while k <= se:
            rs = _huff(reader, tbl)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = (1 << r) + (reader.bits(r) if r else 0)
                    break
                # r == 15 (ZRL): skip 16 ZERO-HISTORY coefficients
            else:
                if s != 1:
                    raise UnsupportedMediaError(
                        "refinement symbol with s > 1")
                val = p1 if reader.bit() else -p1
            while k <= se:
                v = int(blk[k])
                if v != 0:
                    if reader.bit() and (v & p1) == 0:
                        blk[k] = v + (p1 if v >= 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:                             # band tail corrections
            v = int(blk[k])
            if v != 0 and reader.bit() and (v & p1) == 0:
                blk[k] = v + (p1 if v >= 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


def _prog_assemble(frame: dict, prog: dict, qt: dict) -> dict:
    """All scans consumed (EOI): dequantize + IDCT every block, then the
    same upsample / color-convert tail as the sequential path."""
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    planes = []
    for ci, c in enumerate(comps):
        coefs = prog["coefs"][ci]
        q = qt[c["tq"]]
        pby, pbx = coefs.shape[:2]
        plane = np.zeros((pby * 8, pbx * 8))
        for by in range(pby):
            for bx in range(pbx):
                zz = np.zeros(64)
                blk = coefs[by, bx]
                for z in range(64):
                    zz[ZIGZAG[z]] = blk[z]
                plane[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = \
                    _idct2(zz.reshape(8, 8) * q) + 128.0
        planes.append(plane)
    if len(comps) == 1:
        gray = np.clip(np.rint(planes[0][:h, :w]), 0,
                       255).astype(np.uint8)
        return {"width": w, "height": h, "channels": 1,
                "pixels": [(int(v),) for v in gray.reshape(-1)]}
    hmax, vmax = prog["hmax"], prog["vmax"]
    out_planes = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        if c["h"] < hmax or c["v"] < vmax:
            p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                          hmax // c["h"], axis=1)
        out_planes.append(p[:h, :w])
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0,
                  255).astype(np.uint8).reshape(-1, 3)
    return {"width": w, "height": h, "channels": 3,
            "pixels": [tuple(int(v) for v in px) for px in rgb]}


# ---------------------------------------------------------------------------
# Encoder (grayscale / 4:4:4, std Huffman, flat quant)
# ---------------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)          # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.acc = (self.acc << (8 - self.nbits)) | \
                ((1 << (8 - self.nbits)) - 1)      # pad with 1s
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
        return bytes(self.out)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(wr: _BitWriter, coef: np.ndarray, pred: int,
                  dc_tbl: dict, ac_tbl: dict) -> int:
    dc = int(coef[0])
    diff = dc - pred
    t = _category(diff)
    code, ln = dc_tbl[t]
    wr.write(code, ln)
    if t:
        wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if coef[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(coef[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tbl[0xF0]                # ZRL
            wr.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_tbl[(run << 4) | s]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, ln = ac_tbl[0x00]                    # EOB
        wr.write(code, ln)
    return dc


def encode_jpeg(pixels: list, width: int, height: int,
                channels: int = 1, quant: int = 1) -> bytes:
    """Minimal baseline encoder: ``pixels`` as in ``decode_png``;
    ``quant`` = the flat quantization value for every coefficient
    (1 ≈ lossless-up-to-float-rounding, bigger = lossier)."""
    if channels not in (1, 3):
        raise ValueError("encoder subset: grayscale or RGB")
    arr = np.array([list(px) for px in pixels],
                   dtype=np.float64).reshape(height, width, channels)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
    else:
        planes = [arr[..., 0]]
    qtab = np.full((8, 8), float(quant))
    qzz = bytes(int(quant) & 0xFF for _ in range(64))
    dc_l = _build_encode_table(*_STD_DC_LUMA)
    ac_l = _build_encode_table(*_STD_AC_LUMA)
    dc_c = _build_encode_table(*_STD_DC_CHROMA)
    ac_c = _build_encode_table(*_STD_AC_CHROMA)
    bw, bh = -(-width // 8), -(-height // 8)
    wr = _BitWriter()
    preds = [0] * channels
    for my in range(bh):
        for mx in range(bw):
            for ci, plane in enumerate(planes):
                y0, x0 = my * 8, mx * 8
                block = np.full((8, 8), plane[min(y0, height - 1),
                                              min(x0, width - 1)])
                tile = plane[y0:y0 + 8, x0:x0 + 8]
                block[:tile.shape[0], :tile.shape[1]] = tile
                # edge replicate: repeat last row/col into the pad
                for yy in range(tile.shape[0], 8):
                    block[yy, :] = block[tile.shape[0] - 1, :]
                for xx in range(tile.shape[1], 8):
                    block[:, xx] = block[:, tile.shape[1] - 1]
                coefs = np.rint(_fdct2(block - 128.0) / qtab)
                zz = np.array([coefs.reshape(-1)[ZIGZAG[z]]
                               for z in range(64)])
                dct, act = (dc_l, ac_l) if ci == 0 else (dc_c, ac_c)
                preds[ci] = _encode_block(wr, zz, preds[ci], dct, act)
    body = wr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")
    out += seg(0xDB, b"\x00" + qzz)
    if channels == 3:
        out += seg(0xDB, b"\x01" + qzz)
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for ci in range(channels):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)
    for cls, tid, (bits, vals) in (
            (0, 0, _STD_DC_LUMA), (1, 0, _STD_AC_LUMA),
            (0, 1, _STD_DC_CHROMA), (1, 1, _STD_AC_CHROMA))[
                :4 if channels == 3 else 2]:
        out += seg(0xC4, bytes([cls << 4 | tid]) + bytes(bits)
                   + bytes(vals))
    sos = bytes([channels])
    for ci in range(channels):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3F\x00"
    out += seg(0xDA, sos)
    out += body
    out += b"\xFF\xD9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (fixture + corpus tooling; G.2 with per-block EOB
# flushes — a valid, slightly-less-compact bitstream that keeps the
# encoder free of cross-block correction-bit buffering)
# ---------------------------------------------------------------------------

def _enc_ac_first(wr: _BitWriter, blk: np.ndarray, ac_tbl: dict,
                  ss: int, se: int, al: int) -> None:
    r = 0
    for k in range(ss, se + 1):
        v = int(blk[k])
        t = abs(v) >> al                           # AC point transform is
        if t == 0:                                 # sign-magnitude (G.1.2.2)
            r += 1
            continue
        while r > 15:
            wr.write(*ac_tbl[0xF0])                # ZRL
            r -= 16
        s = t.bit_length()
        wr.write(*ac_tbl[(r << 4) | s])
        mag = t if v >= 0 else -t
        wr.write(mag if mag >= 0 else mag + (1 << s) - 1, s)
        r = 0
    if r:
        wr.write(*ac_tbl[0x00])                    # EOB (run of 1)


def _enc_ac_refine(wr: _BitWriter, blk: np.ndarray, ac_tbl: dict,
                   ss: int, se: int, al: int) -> None:
    """Mirror of _prog_ac_refine: correction bits buffer until the next
    emitted symbol and flush right after it, which IS walk order —
    the ZRL-at-every-nonzero structure keeps the invariant that every
    buffered bit's coefficient is crossed within that symbol's walk."""
    absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1
    for k in range(ss, se + 1):
        if absv[k - ss] == 1:
            eob = k
    r = 0
    br: list = []
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            wr.write(*ac_tbl[0xF0])
            r -= 16
            for b in br:
                wr.write(b, 1)
            br = []
        if t > 1:                                  # history: correction bit
            br.append(t & 1)
            continue
        wr.write(*ac_tbl[(r << 4) | 1])            # newly significant
        wr.write(1 if int(blk[k]) > 0 else 0, 1)
        for b in br:
            wr.write(b, 1)
        br = []
        r = 0
    if r or br:
        wr.write(*ac_tbl[0x00])                    # EOB, then band-tail bits
        for b in br:
            wr.write(b, 1)


def encode_jpeg_progressive(pixels: list, width: int, height: int,
                            channels: int = 1, quant: int = 1) -> bytes:
    """Progressive (SOF2) encoder: grayscale or 4:4:4, six-stage scan
    script exercising every Annex-G mechanism the decoder implements —
    interleaved DC first (Al=1), DC refinement, per-component AC first
    over two spectral bands (Al=1), then AC refinement of both bands
    (Al=0).  Same pixel/quant contract as ``encode_jpeg``."""
    if channels not in (1, 3):
        raise ValueError("encoder subset: grayscale or RGB")
    arr = np.array([list(px) for px in pixels],
                   dtype=np.float64).reshape(height, width, channels)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [0.299 * r + 0.587 * g + 0.114 * b,
                  -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * b + 128.0]
    else:
        planes = [arr[..., 0]]
    qtab = np.full((8, 8), float(quant))
    qzz = bytes(int(quant) & 0xFF for _ in range(64))
    dc_t = [_build_encode_table(*_STD_DC_LUMA)] + \
        [_build_encode_table(*_STD_DC_CHROMA)] * (channels - 1)
    ac_t = [_build_encode_table(*_STD_AC_LUMA)] + \
        [_build_encode_table(*_STD_AC_CHROMA)] * (channels - 1)
    bw, bh = -(-width // 8), -(-height // 8)
    blocks: list[list[np.ndarray]] = [[] for _ in range(channels)]
    for my in range(bh):
        for mx in range(bw):
            for ci, plane in enumerate(planes):
                y0, x0 = my * 8, mx * 8
                tile = plane[y0:y0 + 8, x0:x0 + 8]
                block = np.zeros((8, 8))
                block[:tile.shape[0], :tile.shape[1]] = tile
                for yy in range(tile.shape[0], 8):
                    block[yy, :] = block[tile.shape[0] - 1, :]
                for xx in range(tile.shape[1], 8):
                    block[:, xx] = block[:, tile.shape[1] - 1]
                coefs = np.rint(_fdct2(block - 128.0) / qtab)
                blocks[ci].append(np.array(
                    [coefs.reshape(-1)[ZIGZAG[z]] for z in range(64)],
                    dtype=np.int64))

    def sos_seg(cis: list, ss: int, se: int, ah: int, al: int,
                body: bytes) -> bytes:
        p = bytes([len(cis)])
        for ci in cis:
            p += bytes([ci + 1,
                        0x00 if ci == 0 else 0x11])
        p += bytes([ss, se, (ah << 4) | al])
        return struct.pack(">BBH", 0xFF, 0xDA, len(p) + 2) + p + body

    scans = []
    # 1. DC first, interleaved, Al=1 (point transform = arithmetic shift)
    wr = _BitWriter()
    preds = [0] * channels
    for bi in range(bw * bh):
        for ci in range(channels):
            dc = int(blocks[ci][bi][0]) >> 1
            diff = dc - preds[ci]
            preds[ci] = dc
            t = _category(diff)
            wr.write(*dc_t[ci][t])
            if t:
                wr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    scans.append(sos_seg(list(range(channels)), 0, 0, 0, 1, wr.flush()))
    # 2. DC refinement: bit 0 of every DC, same interleaved order
    wr = _BitWriter()
    for bi in range(bw * bh):
        for ci in range(channels):
            wr.write(int(blocks[ci][bi][0]) & 1, 1)
    scans.append(sos_seg(list(range(channels)), 0, 0, 1, 0, wr.flush()))
    # 3-4. AC first per component, two spectral bands, Al=1
    for ci in range(channels):
        for ss, se in ((1, 5), (6, 63)):
            wr = _BitWriter()
            for bi in range(bw * bh):
                _enc_ac_first(wr, blocks[ci][bi], ac_t[ci], ss, se, 1)
            scans.append(sos_seg([ci], ss, se, 0, 1, wr.flush()))
    # 5-6. AC refinement of the same bands down to Al=0
    for ci in range(channels):
        for ss, se in ((1, 5), (6, 63)):
            wr = _BitWriter()
            for bi in range(bw * bh):
                _enc_ac_refine(wr, blocks[ci][bi], ac_t[ci], ss, se, 0)
            scans.append(sos_seg([ci], ss, se, 1, 0, wr.flush()))

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")
    out += seg(0xDB, b"\x00" + qzz)
    if channels == 3:
        out += seg(0xDB, b"\x01" + qzz)
    sof = struct.pack(">BHHB", 8, height, width, channels)
    for ci in range(channels):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += seg(0xC2, sof)
    for cls, tid, (bits, vals) in (
            (0, 0, _STD_DC_LUMA), (1, 0, _STD_AC_LUMA),
            (0, 1, _STD_DC_CHROMA), (1, 1, _STD_AC_CHROMA))[
                :4 if channels == 3 else 2]:
        out += seg(0xC4, bytes([cls << 4 | tid]) + bytes(bits)
                   + bytes(vals))
    for s in scans:
        out += s
    out += b"\xFF\xD9"
    return bytes(out)
