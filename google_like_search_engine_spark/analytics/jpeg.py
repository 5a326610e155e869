"""Pure-Python baseline JPEG codec (no image libraries).

Closes the last strict-mode decode gap in the multimodal column
pipeline (analytics/multimodal.py): JFIF/baseline-DCT JPEG — the
dominant web image format a crawler actually sees — decodes for real,
like BMP/PPM/PNG/WAV already do. PROGRESSIVE (SOF2) streams decode
too (spectral selection + successive approximation, T.81 G.2, the
libjpeg per-scan algorithms), and encode_jpeg_progressive writes them
for fixtures. Arithmetic-coded, 12-bit, and hierarchical JPEGs raise
NotImplementedError honestly.

Decoder (ITU-T T.81 baseline sequential):
  SOI / APPn / COM / DQT (8-bit) / DRI / SOF0+SOF1 / DHT / SOS
  -> Huffman-decoded, dequantized, inverse-zigzagged 8x8 blocks
  -> float IDCT -> per-component planes at their sampling factors
  -> nearest-neighbor chroma upsample -> YCbCr->RGB (JFIF matrix).
  Restart markers (RST0-7) reset the bit reader and DC predictors.

Encoder (for tests/fixtures: REAL compressed payloads without any
media library): 4:4:4 or 4:2:0, flat quantization tables (quant=1 is
near-lossless — the only loss is DCT float rounding), two-pass optimal
Huffman tables (canonical, length-limited to 16 bits, all-ones code
avoided via the dummy-symbol trick — the same construction libjpeg's
optimal-table mode uses).

Everything here is integer/float arithmetic on bytes — deterministic
across runs and platforms for the codec paths used in tests.
"""

from __future__ import annotations

import math
import struct

# scan position -> block index (row*8+col): the standard zigzag order
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]

# cosine basis C[u][x] = cos((2x+1) * u * pi / 16), shared by FDCT/IDCT
_COS = [
    [math.cos((2 * x + 1) * u * math.pi / 16.0) for x in range(8)]
    for u in range(8)
]
_CU = [1.0 / math.sqrt(2.0)] + [1.0] * 7


def _idct_block(coef: list) -> list:
    """64 dequantized coefficients (natural order) -> 64 spatial samples
    (natural order, level-shifted back to 0..255, clamped)."""
    out = [0] * 64
    # separable: rows then columns
    tmp = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                s += _CU[u] * coef[y * 8 + u] * _COS[u][x]
            tmp[y][x] = s / 2.0
    for x in range(8):
        for y in range(8):
            s = 0.0
            for v in range(8):
                s += _CU[v] * tmp[v][x] * _COS[v][y]
            val = int(round(s / 2.0)) + 128
            out[y * 8 + x] = 0 if val < 0 else (255 if val > 255 else val)
    return out


def _fdct_block(samples: list) -> list:
    """64 spatial samples -> 64 DCT coefficients (natural order)."""
    shifted = [s - 128.0 for s in samples]
    tmp = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        for u in range(8):
            s = 0.0
            for x in range(8):
                s += shifted[y * 8 + x] * _COS[u][x]
            tmp[y][u] = s * _CU[u] / 2.0
    out = [0.0] * 64
    for u in range(8):
        for v in range(8):
            s = 0.0
            for y in range(8):
                s += tmp[y][u] * _COS[v][y]
            out[v * 8 + u] = s * _CU[v] / 2.0
    return out


# --------------------------------------------------------------------------
# Huffman machinery
# --------------------------------------------------------------------------


def _canonical_codes(bits: list, vals: list) -> dict:
    """JPEG (BITS, HUFFVAL) -> {value: (code, length)} canonical codes."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list, vals: list) -> dict:
    """-> {(length, code): value} for the bit-serial decoder."""
    return {
        (length, code): v for v, (code, length) in _canonical_codes(bits, vals).items()
    }


def _optimal_table(freqs: dict) -> tuple:
    """Frequencies -> (BITS, HUFFVAL): canonical Huffman limited to 16
    bits, with the libjpeg dummy-symbol trick (reserve symbol 256 with
    frequency 1) so no real symbol gets the all-ones code."""
    freq = [0] * 257
    for sym, f in freqs.items():
        freq[sym] = f
    freq[256] = 1  # dummy: takes the largest all-ones code
    codesize = [0] * 257
    others = [-1] * 257

    while True:
        # two least-frequent nonzero entries (ties -> larger symbol, as
        # in the reference algorithm, for a deterministic table)
        c1 = -1
        v = 1 << 60
        for i in range(257):
            if 0 < freq[i] <= v:
                v = freq[i]
                c1 = i
        c2 = -1
        v = 1 << 60
        for i in range(257):
            if 0 < freq[i] <= v and i != c1:
                v = freq[i]
                c2 = i
        if c2 < 0:
            break
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1

    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            if codesize[i] > 32:
                # libjpeg guards the same bound (jchuff.c MAX_CLEN): a
                # Fibonacci-like frequency spiral can push a code past
                # 32 bits, which the K.3 length-limit pass below cannot
                # repair and which would otherwise crash as IndexError.
                raise ValueError(
                    f"huffman code length {codesize[i]} exceeds 32 bits; "
                    "frequency distribution too skewed to encode"
                )
            bits[codesize[i]] += 1
    # limit code lengths to 16 (T.81 K.3 adjustment)
    for length in range(32, 16, -1):
        while bits[length] > 0:
            j = length - 2
            while bits[j] == 0:
                j -= 1
            bits[length] -= 2
            bits[length - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    # drop the dummy symbol's code (largest of the longest length)
    for length in range(16, 0, -1):
        if bits[length]:
            bits[length] -= 1
            break
    huffval = []
    for length in range(1, 17):
        for sym in range(256):
            if codesize[sym] == length:
                huffval.append(sym)
    return bits[1:17], huffval


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


class _BitReader:
    """Entropy-segment bit reader: un-stuffs 0xFF00, stops at markers;
    RST markers are consumed via ``restart()``."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker()
            else:
                # real marker (EOI/next segment): pad with 1-bits, as a
                # truncated final byte would be padded by the encoder
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Consume an RST marker and realign to a byte boundary."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected RST marker")


class _RestartMarker(Exception):
    pass


def _decode_huff(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, t: int) -> int:
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _category(v: int) -> int:
    a = abs(v)
    t = 0
    while a:
        a >>= 1
        t += 1
    return t


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------


def decode_jpeg(payload: bytes):
    """Baseline-DCT JPEG -> (width, height, channels, pixels row-major
    [(r, g, b)]). Raises NotImplementedError for progressive/arithmetic/
    12-bit streams, ValueError for malformed data."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict = {}
    htables: dict = {}  # (class, id) -> decode table
    frame = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        seg = payload[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq != 0:
                    raise NotImplementedError("16-bit quantization tables")
                qtables[tq] = list(seg[i : i + 64])
                i += 64
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                htables[(tc, th)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG")
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = struct.unpack_from("BBB", seg, 6 + 3 * ci)
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps,
                     "progressive": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{marker:02X}: "
                "lossless/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS: entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if frame.get("progressive"):
                return _decode_progressive(
                    payload, pos, frame, seg, qtables, htables,
                    restart_interval,
                )
            ns = seg[0]
            scan_sel = {}
            for si in range(ns):
                cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                scan_sel[cs] = (tt >> 4, tt & 0xF)
            return _decode_scan(
                payload, pos, frame, scan_sel, qtables, htables, restart_interval
            )
        elif marker == 0xD9:  # EOI before SOS
            break
        # APPn / COM / others: skipped
    raise ValueError("JPEG without a decodable scan")


def _decode_scan(data, pos, frame, scan_sel, qtables, htables, restart_interval):
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        c["bw"] = mcux * c["h"]  # blocks across
        c["bh"] = mcuy * c["v"]
        planes.append(bytearray(c["bw"] * 8 * c["bh"] * 8))
    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.restart()
                preds = [0] * len(comps)
            for ci, c in enumerate(comps):
                dc_t, ac_t = scan_sel[c["id"]]
                dct = htables.get((0, dc_t))
                act = htables.get((1, ac_t))
                q = qtables[c["tq"]]
                if dct is None or act is None:
                    raise ValueError("missing Huffman table for scan")
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        try:
                            coef = _decode_block(reader, dct, act, q, preds, ci)
                        except _RestartMarker:
                            raise ValueError("unexpected restart marker")
                        spatial = _idct_block(coef)
                        _blit(
                            planes[ci], c["bw"] * 8,
                            (mx * c["h"] + bx) * 8, (my * c["v"] + by) * 8,
                            spatial,
                        )
            mcu_count += 1
    return _planes_to_rgb(w, h, comps, planes, hmax, vmax)


def _decode_block(reader, dct, act, q, preds, ci):
    t = _decode_huff(reader, dct)
    diff = _extend(reader.bits(t), t) if t else 0
    preds[ci] += diff
    coef = [0] * 64
    coef[0] = preds[ci] * q[0]
    k = 1
    while k < 64:
        rs = _decode_huff(reader, act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        coef[ZIGZAG[k]] = _extend(reader.bits(s), s) * q[k]
        k += 1
    return coef


def _decode_progressive(data, pos, frame, sos_seg, qtables, htables,
                        restart_interval):
    """Progressive (SOF2) decode: coefficients accumulate across scans
    — spectral-selection bands and successive-approximation bit planes
    (T.81 G.2; the same per-scan algorithms as libjpeg's
    decode_mcu_DC/AC_first/refine) — then one dequantize+IDCT pass
    reconstructs the image. Inter-scan DHT/DQT/DRI segments update the
    running tables, exactly like the sequential marker loop."""
    w, h, comps = frame["w"], frame["h"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        c["bw"] = mcux * c["h"]
        c["bh"] = mcuy * c["v"]
        # non-interleaved (single-component) scans cover the component's
        # own block grid, NOT the MCU-padded one (T.81 A.2.2)
        cw = -(-(w * c["h"]) // hmax)
        ch = -(-(h * c["v"]) // vmax)
        c["nbw"] = -(-cw // 8)
        c["nbh"] = -(-ch // 8)
    coefs = [
        [[0] * 64 for _ in range(c["bw"] * c["bh"])] for c in comps
    ]
    comp_by_id = {c["id"]: (ci, c) for ci, c in enumerate(comps)}

    while True:
        pos = _decode_prog_scan(
            data, pos, comps, comp_by_id, coefs, sos_seg, htables,
            restart_interval, mcux, mcuy,
        )
        # continue the marker loop between scans
        sos_seg = None
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                raise ValueError(f"bad JPEG marker alignment at {pos}")
            marker = data[pos + 1]
            if marker == 0xD9 or 0xD0 <= marker <= 0xD7:
                pos += 2
                if marker == 0xD9:
                    break
                continue
            (seglen,) = struct.unpack_from(">H", data, pos + 2)
            seg = data[pos + 4 : pos + 2 + seglen]
            pos += 2 + seglen
            if marker == 0xC4:  # DHT between scans
                i = 0
                while i < len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 0xF
                    bits = list(seg[i + 1 : i + 17])
                    n = sum(bits)
                    htables[(tc, th)] = _decode_table(
                        bits, list(seg[i + 17 : i + 17 + n])
                    )
                    i += 17 + n
            elif marker == 0xDB:  # DQT between scans
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 0xF
                    i += 1
                    if pq != 0:
                        raise NotImplementedError("16-bit quantization tables")
                    qtables[tq] = list(seg[i : i + 64])
                    i += 64
            elif marker == 0xDD:
                (restart_interval,) = struct.unpack_from(">H", seg, 0)
            elif marker == 0xDA:
                sos_seg = seg
                break
            # APPn/COM: skipped
        if sos_seg is None:
            break

    # reconstruction: dequantize (zigzag-ordered tables) + IDCT + blit
    planes = []
    for ci, c in enumerate(comps):
        q = qtables[c["tq"]]
        plane = bytearray(c["bw"] * 8 * c["bh"] * 8)
        for by in range(c["bh"]):
            for bx in range(c["bw"]):
                coef = coefs[ci][by * c["bw"] + bx]
                deq = [0] * 64
                for k in range(64):
                    deq[ZIGZAG[k]] = coef[ZIGZAG[k]] * q[k]
                _blit(plane, c["bw"] * 8, bx * 8, by * 8, _idct_block(deq))
        planes.append(plane)
    return _planes_to_rgb(w, h, comps, planes, hmax, vmax)


def _decode_prog_scan(data, pos, comps, comp_by_id, coefs, sos_seg, htables,
                      restart_interval, mcux, mcuy):
    """One progressive scan's entropy data -> coefficient updates.
    Returns the position of the next marker after the scan."""
    ns = sos_seg[0]
    sel = []  # (ci, comp, dc_table_id, ac_table_id)
    for si in range(ns):
        cs, tt = sos_seg[1 + 2 * si], sos_seg[2 + 2 * si]
        ci, c = comp_by_id[cs]
        sel.append((ci, c, tt >> 4, tt & 0xF))
    ss, se, ahal = sos_seg[1 + 2 * ns : 4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    if ss > se or se > 63:
        raise ValueError("bad spectral selection bounds")
    if ss == 0 and se != 0:
        raise ValueError("progressive scan mixing DC and AC")
    if ss > 0 and ns != 1:
        raise ValueError("progressive AC scan must be single-component")

    reader = _BitReader(data, pos)
    preds = [0] * len(comps)
    state = {"eobrun": 0}
    unit = 0  # MCUs (interleaved) or blocks (single-component scan)

    def maybe_restart():
        nonlocal preds
        if restart_interval and unit and unit % restart_interval == 0:
            reader.restart()
            preds = [0] * len(comps)
            state["eobrun"] = 0

    if ss == 0 and ns > 1:  # interleaved DC scan, MCU order
        for my in range(mcuy):
            for mx in range(mcux):
                maybe_restart()
                for ci, c, dt, _at in sel:
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            blk = coefs[ci][
                                (my * c["v"] + by) * c["bw"] + mx * c["h"] + bx
                            ]
                            _prog_dc(reader, blk, htables.get((0, dt)),
                                     preds, ci, ah, al)
                unit += 1
    else:  # single-component scan over the component's own block grid
        ci, c, dt, at = sel[0]
        for by in range(c["nbh"]):
            for bx in range(c["nbw"]):
                maybe_restart()
                blk = coefs[ci][by * c["bw"] + bx]
                if ss == 0:
                    _prog_dc(reader, blk, htables.get((0, dt)), preds, ci,
                             ah, al)
                else:
                    act = htables.get((1, at))
                    if act is None:
                        raise ValueError("missing AC Huffman table for scan")
                    if ah == 0:
                        _prog_ac_first(reader, blk, act, ss, se, al, state)
                    else:
                        _prog_ac_refine(reader, blk, act, ss, se, al, state)
                unit += 1

    # realign: skip to the next non-RST marker
    p = reader.pos
    while p + 1 < len(data):
        if data[p] == 0xFF and data[p + 1] != 0x00 and not (
            0xD0 <= data[p + 1] <= 0xD7
        ):
            return p
        p += 1
    return p


def _prog_dc(reader, blk, dct, preds, ci, ah, al):
    if ah == 0:  # first DC scan: huffman diffs in the shifted domain
        if dct is None:
            raise ValueError("missing DC Huffman table for scan")
        t = _decode_huff(reader, dct)
        preds[ci] += _extend(reader.bits(t), t) if t else 0
        blk[0] = preds[ci] << al
    else:  # refinement: one bit per block (two's-complement OR, G.2.1)
        if reader.bit():
            blk[0] |= 1 << al


def _prog_ac_first(reader, blk, act, ss, se, al, state):
    """First AC scan of a band: EOB-run coded coefficients << al."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huff(reader, act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past spectral band")
        blk[ZIGZAG[k]] = _extend(reader.bits(s), s) << al
        k += 1


def _prog_ac_refine(reader, blk, act, ss, se, al, state):
    """AC successive-approximation refinement (libjpeg
    decode_mcu_AC_refine): correction bits for already-nonzero
    coefficients, newly-visible +-1<<al coefficients, EOB runs."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_huff(reader, act)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r != 15:
                    # full run here (not run-1 as in the first-scan
                    # case): the CURRENT block still consumes
                    # correction bits below, then decrements
                    state["eobrun"] = 1 << r
                    if r:
                        state["eobrun"] += reader.bits(r)
                    break
                # ZRL: advance over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("refinement scan coefficient size != 1")
                s = p1 if reader.bit() else m1
            while k <= se:
                z = ZIGZAG[k]
                if blk[z] != 0:
                    if reader.bit() and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s and k <= se:
                blk[ZIGZAG[k]] = s
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            z = ZIGZAG[k]
            if blk[z] != 0:
                if reader.bit() and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        state["eobrun"] -= 1


def _blit(plane, stride, x0, y0, block):
    for yy in range(8):
        base = (y0 + yy) * stride + x0
        row = block[yy * 8 : yy * 8 + 8]
        plane[base : base + 8] = bytes(row)


def _planes_to_rgb(w, h, comps, planes, hmax, vmax):
    nc = len(comps)
    pix = []
    if nc == 1:
        stride = comps[0]["bw"] * 8
        p = planes[0]
        for y in range(h):
            base = y * stride
            for x in range(w):
                g = p[base + x]
                pix.append((g, g, g))
        return w, h, 1, pix
    if nc != 3:
        raise NotImplementedError(f"{nc}-component JPEG (CMYK?)")
    sy, scb, scr = planes
    st = [c["bw"] * 8 for c in comps]
    for y in range(h):
        for x in range(w):
            yy = sy[(y * comps[0]["v"] // vmax) * st[0] + (x * comps[0]["h"] // hmax)]
            cb = scb[(y * comps[1]["v"] // vmax) * st[1] + (x * comps[1]["h"] // hmax)]
            cr = scr[(y * comps[2]["v"] // vmax) * st[2] + (x * comps[2]["h"] // hmax)]
            r = yy + 1.402 * (cr - 128)
            g = yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
            b = yy + 1.772 * (cb - 128)
            pix.append(tuple(
                0 if v < 0 else (255 if v > 255 else int(round(v)))
                for v in (r, g, b)
            ))
    return w, h, 3, pix


# --------------------------------------------------------------------------
# Encoder (tests/fixtures)
# --------------------------------------------------------------------------


def _rgb_to_ycbcr(r, g, b):
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _component_planes(width, height, pixel_fn, subsample):
    """-> list of (plane rows [list of list], h, v) for Y, Cb, Cr."""
    ys = [[0] * width for _ in range(height)]
    cbs = [[0.0] * width for _ in range(height)]
    crs = [[0.0] * width for _ in range(height)]
    for y in range(height):
        for x in range(width):
            r, g, b = pixel_fn(x, y)
            yy, cb, cr = _rgb_to_ycbcr(r & 0xFF, g & 0xFF, b & 0xFF)
            ys[y][x] = yy
            cbs[y][x] = cb
            crs[y][x] = cr
    if not subsample:
        return [(ys, 1, 1), (cbs, 1, 1), (crs, 1, 1)], 1, 1
    # 4:2:0 — chroma averaged over 2x2
    cw, ch = -(-width // 2), -(-height // 2)

    def down(src):
        out = [[0.0] * cw for _ in range(ch)]
        for yy in range(ch):
            for xx in range(cw):
                acc = cnt = 0
                for dy in range(2):
                    for dx in range(2):
                        sy_, sx_ = yy * 2 + dy, xx * 2 + dx
                        if sy_ < height and sx_ < width:
                            acc += src[sy_][sx_]
                            cnt += 1
                out[yy][xx] = acc / max(cnt, 1)
        return out

    return [(ys, 2, 2), (down(cbs), 1, 1), (down(crs), 1, 1)], 2, 2


def _blocks_of(plane, bw_blocks, bh_blocks):
    """Edge-replicated 8x8 blocks of a [rows][cols] plane, in raster
    block order -> list of 64-sample lists."""
    ph = len(plane)
    pw = len(plane[0]) if ph else 0
    out = []
    for by in range(bh_blocks):
        for bx in range(bw_blocks):
            block = []
            for yy in range(8):
                sy_ = min(by * 8 + yy, ph - 1)
                row = plane[sy_]
                for xx in range(8):
                    block.append(row[min(bx * 8 + xx, pw - 1)])
            out.append(block)
    return out


def encode_jpeg(width, height, pixel_fn, quant: int = 1, subsample: bool = False):
    """Deterministic baseline JPEG writer: ``pixel_fn(x, y) -> (r,g,b)``.
    ``quant`` is the flat quantization step (1 = near-lossless);
    ``subsample`` picks 4:2:0 instead of 4:4:4. Huffman tables are
    computed optimally from the actual coefficient statistics."""
    comps, hmax, vmax = _component_planes(width, height, pixel_fn, subsample)
    q = [max(1, min(int(quant), 255))] * 64
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    # quantized coefficient blocks, in SCAN order (MCU-interleaved)
    comp_blocks = []
    for plane, hc, vc in comps:
        comp_blocks.append(_blocks_of(plane, mcux * hc, mcuy * vc))
    scan = []  # (comp_idx, zigzag-quantized block)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (_plane, hc, vc) in enumerate(comps):
                for by in range(vc):
                    for bx in range(hc):
                        blk = comp_blocks[ci][(my * vc + by) * (mcux * hc) + mx * hc + bx]
                        coefs = _fdct_block(blk)
                        zz = [
                            int(round(coefs[ZIGZAG[k]] / q[k])) for k in range(64)
                        ]
                        scan.append((ci, zz))

    # pass 1: symbol statistics per table class (luma = comp 0, chroma = 1/2)
    dc_freq = [{}, {}]
    ac_freq = [{}, {}]
    preds = [0, 0, 0]

    def symbols(zz, ci, emit):
        tsel = 0 if ci == 0 else 1
        diff = zz[0] - preds[ci]
        preds[ci] = zz[0]
        t = _category(diff)
        emit(dc_freq[tsel], ac_freq[tsel], t, diff, zz)

    def count(dcf, acf, t, diff, zz):
        dcf[t] = dcf.get(t, 0) + 1
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                acf[0xF0] = acf.get(0xF0, 0) + 1
                run -= 16
            s = _category(zz[k])
            acf[(run << 4) | s] = acf.get((run << 4) | s, 0) + 1
            run = 0
        if run:
            acf[0x00] = acf.get(0x00, 0) + 1

    for ci, zz in scan:
        symbols(zz, ci, count)

    tables = {}
    for tsel in (0, 1):
        if not dc_freq[tsel] and tsel == 1 and len(comps) == 1:
            continue
        tables[(0, tsel)] = _optimal_table(dc_freq[tsel] or {0: 1})
        tables[(1, tsel)] = _optimal_table(ac_freq[tsel] or {0: 1})
    enc = {k: _canonical_codes(bits, vals) for k, (bits, vals) in tables.items()}

    # pass 2: emit the entropy stream
    writer = _BitWriter()
    preds[:] = [0, 0, 0]

    def emit_bits(v, t):
        if t:
            writer.write(v if v > 0 else v + (1 << t) - 1, t)

    for ci, zz in scan:
        tsel = 0 if ci == 0 else 1
        diff = zz[0] - preds[ci]
        preds[ci] = zz[0]
        t = _category(diff)
        code, length = enc[(0, tsel)][t]
        writer.write(code, length)
        emit_bits(diff, t)
        run = 0
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                c0, l0 = enc[(1, tsel)][0xF0]
                writer.write(c0, l0)
                run -= 16
            s = _category(zz[k])
            c0, l0 = enc[(1, tsel)][(run << 4) | s]
            writer.write(c0, l0)
            emit_bits(zz[k], s)
            run = 0
        if run:
            c0, l0 = enc[(1, tsel)][0x00]
            writer.write(c0, l0)
    entropy = writer.flush()

    # assemble segments
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + bytes([0x00]) + bytes(q)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for ci, (_p, hc, vc) in enumerate(comps):
        sof += bytes([ci + 1, (hc << 4) | vc, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for (tc, th), (bits, vals) in sorted(tables.items()):
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    sos = bytes([len(comps)])
    for ci in range(len(comps)):
        tsel = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tsel << 4) | tsel])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(width, height, pixel_fn, quant: int = 1,
                            subsample: bool = False):
    """Deterministic PROGRESSIVE (SOF2) JPEG writer: spectral selection
    (DC scan, AC bands 1-5 and 6-63) plus one successive-approximation
    level (first scans send coefficients >> 1, refinement scans send
    the low bit — the libjpeg encode_mcu_*_first/refine algorithms).
    Same quantized coefficients as encode_jpeg, only the entropy-coding
    order differs, so decode_jpeg(progressive) == decode_jpeg(baseline)
    EXACTLY, pixel for pixel — which is what the tests assert. Huffman
    tables are computed optimally per scan and re-defined via DHT
    between scans."""
    comps, hmax, vmax = _component_planes(width, height, pixel_fn, subsample)
    q = [max(1, min(int(quant), 255))] * 64
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))

    grids, dims = [], []
    for plane, hc, vc in comps:
        bw, bh = mcux * hc, mcuy * vc
        zzs = []
        for blk in _blocks_of(plane, bw, bh):
            coefs = _fdct_block(blk)
            zzs.append([int(round(coefs[ZIGZAG[k]] / q[k])) for k in range(64)])
        cw, ch = -(-(width * hc) // hmax), -(-(height * vc) // vmax)
        dims.append({"bw": bw, "bh": bh, "h": hc, "v": vc,
                     "nbw": -(-cw // 8), "nbh": -(-ch // 8)})
        grids.append(zzs)

    AL = 1  # one successive-approximation level

    def dc_first_body(sym, bits):
        preds = [0] * len(comps)
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, d in enumerate(dims):
                    for by in range(d["v"]):
                        for bx in range(d["h"]):
                            zz = grids[ci][
                                (my * d["v"] + by) * d["bw"] + mx * d["h"] + bx
                            ]
                            v = zz[0] >> AL  # arithmetic shift (G.1.2.1)
                            diff = v - preds[ci]
                            preds[ci] = v
                            t = _category(diff)
                            sym(t)
                            if t:
                                bits(diff if diff > 0 else diff + (1 << t) - 1, t)

    def dc_refine_body(sym, bits):
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, d in enumerate(dims):
                    for by in range(d["v"]):
                        for bx in range(d["h"]):
                            zz = grids[ci][
                                (my * d["v"] + by) * d["bw"] + mx * d["h"] + bx
                            ]
                            bits(zz[0] & 1, 1)  # bit Al=0 of the value

    def ac_first_body(ci, ss, se):
        def body(sym, bits):
            d = dims[ci]
            eob = 0

            def flush():
                nonlocal eob
                if eob:
                    r = eob.bit_length() - 1
                    sym(r << 4)
                    if r:
                        bits(eob - (1 << r), r)
                    eob = 0

            for by in range(d["nbh"]):
                for bx in range(d["nbw"]):
                    zz = grids[ci][by * d["bw"] + bx]
                    vals = [
                        (zz[k] >> AL) if zz[k] >= 0 else -((-zz[k]) >> AL)
                        for k in range(ss, se + 1)
                    ]  # magnitude shift toward zero (G.1.2.2)
                    if not any(vals):
                        eob += 1
                        if eob == 0x7FFF:
                            flush()
                        continue
                    flush()
                    r = 0
                    for v in vals:
                        if v == 0:
                            r += 1
                            continue
                        while r > 15:
                            sym(0xF0)
                            r -= 16
                        s = _category(v)
                        sym((r << 4) | s)
                        bits(v if v > 0 else v + (1 << s) - 1, s)
                        r = 0
                    if r:
                        eob += 1
                        if eob == 0x7FFF:
                            flush()
            flush()

        return body

    def ac_refine_body(ci, ss, se):
        def body(sym, bits):
            d = dims[ci]
            eob = 0
            pend = []  # correction bits buffered until the next symbol

            def flush_eob():
                nonlocal eob
                if eob:
                    r = eob.bit_length() - 1
                    sym(r << 4)
                    if r:
                        bits(eob - (1 << r), r)
                    eob = 0
                for b in pend:
                    bits(b, 1)
                del pend[:]

            for by in range(d["nbh"]):
                for bx in range(d["nbw"]):
                    zz = grids[ci][by * d["bw"] + bx]
                    temps = [abs(zz[k]) >> 0 for k in range(ss, se + 1)]
                    # magnitudes visible AFTER this scan (Al=0)
                    last_new = 0
                    for i, t in enumerate(temps):
                        if t == 1:
                            last_new = i + 1  # 1-based bound for ZRL rule
                    r, block_pend = 0, []
                    for i, t in enumerate(temps):
                        if t == 0:
                            r += 1
                            continue
                        while r > 15 and i < last_new:
                            flush_eob()
                            sym(0xF0)
                            r -= 16
                            for b in block_pend:
                                bits(b, 1)
                            del block_pend[:]
                        if t > 1:  # nonzero history: correction bit
                            block_pend.append(t & 1)
                            continue
                        flush_eob()
                        sym((r << 4) | 1)
                        bits(1 if zz[ss + i] >= 0 else 0, 1)
                        for b in block_pend:
                            bits(b, 1)
                        del block_pend[:]
                        r = 0
                    if r > 0 or block_pend:
                        eob += 1
                        pend.extend(block_pend)
                        if eob == 0x7FFF:
                            flush_eob()
            flush_eob()

        return body

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 64) + bytes([0x00]) + bytes(q)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for ci, (_p, hc, vc) in enumerate(comps):
        sof += bytes([ci + 1, (hc << 4) | vc, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2

    def emit_scan(body, scan_comps, ss, se, ah, al, table_class):
        """Two-pass scan: count symbols -> optimal DHT -> entropy."""
        freqs = {}
        body(lambda s: freqs.__setitem__(s, freqs.get(s, 0) + 1),
             lambda v, n: None)
        if freqs:  # refinement DC scans emit raw bits only: no DHT
            tbits, tvals = _optimal_table(freqs)
            enc = _canonical_codes(tbits, tvals)
            dht = bytes([(table_class << 4) | 0]) + bytes(tbits) + bytes(tvals)
            out.extend(b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht)
        else:
            enc = None
        sos = bytes([len(scan_comps)])
        for ci in scan_comps:
            sos += bytes([ci + 1, 0x00])  # table 0 for both classes
        sos += bytes([ss, se, (ah << 4) | al])
        out.extend(b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos)
        writer = _BitWriter()

        def sym(s):
            code, length = enc[s]
            writer.write(code, length)

        body(sym, writer.write)
        out.extend(writer.flush())

    n = len(comps)
    emit_scan(dc_first_body, list(range(n)), 0, 0, 0, AL, 0)
    for ci in range(n):
        emit_scan(ac_first_body(ci, 1, 5), [ci], 1, 5, 0, AL, 1)
    for ci in range(n):
        emit_scan(ac_first_body(ci, 6, 63), [ci], 6, 63, 0, AL, 1)
    for ci in range(n):
        emit_scan(ac_refine_body(ci, 1, 63), [ci], 1, 63, AL, 0, 1)
    emit_scan(dc_refine_body, list(range(n)), 0, 0, AL, 0, 0)
    out += b"\xff\xd9"
    return bytes(out)
