"""Pure-stdlib/numpy media codecs for the multimodal operators.

REAL codecs (no external libraries, fully decoded content):

- **PNG** — 8-bit gray/RGB/palette/gray-alpha/RGBA, non-interlaced
  (stdlib ``zlib`` inflate + per-scanline unfilter of all five PNG
  filter types per RFC 2083 §6)
- **PPM (P6)** — binary NetPBM RGB images (header parse + numpy reshape)
- **BMP** — uncompressed 24-bit Windows bitmaps (BITMAPINFOHEADER,
  bottom-up row order, 4-byte row padding, BGR→RGB)
- **WAV** — PCM audio via the stdlib ``wave`` module (8/16/32-bit)
- **JPEG** — baseline sequential DCT (ITU-T T.81): huffman entropy
  decode with byte-stuffing and restart markers, dequantize + batched
  numpy IDCT, chroma upsampling (4:4:4/4:2:2/4:2:0), BT.601 YCbCr→RGB.
  Quantization and huffman tables come from the DQT/DHT segments; the
  matching encoder uses the public Annex K example tables.

Everything else (MP4, progressive/arithmetic/12-bit JPEG, plus PNG's
interlaced/16-bit variants) needs codec libraries this container does
not ship and raises ``NotImplementedError`` — callers decide whether to
quarantine the row or substitute a clearly-flagged deterministic
stand-in. Encoders for the real formats exist so tests can round-trip
content without fixture binaries.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# Sniffing
# ---------------------------------------------------------------------------


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def sniff(data: bytes) -> str | None:
    """Best-effort container detection for the formats we can decode."""
    if data[:8] == _PNG_MAGIC:
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:2] == b"P6":
        return "ppm"
    if data[:2] == b"BM":
        return "bmp"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    return None


# ---------------------------------------------------------------------------
# PNG (RFC 2083) — stdlib zlib inflate + scanline unfilter
# ---------------------------------------------------------------------------

#: color type → samples per pixel at bit depth 8
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters (None/Sub/Up/Average/Paeth,
    RFC 2083 §6.3-6.6) → (h, stride) uint8 of reconstructed samples.

    Sub/Average/Paeth recurrences are sequential along the row, so those
    rows loop per byte — correct-first; the multimodal pipeline batches
    documents via Arrow and quarantines per row, it never decodes one
    giant image per task."""
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        row = np.frombuffer(raw, np.uint8, stride,
                            y * (stride + 1) + 1).astype(np.int32)
        if ft == 0:                                   # None
            rec = row
        elif ft == 1:                                 # Sub
            rec = row.copy()
            for i in range(bpp, stride):
                rec[i] = (rec[i] + rec[i - bpp]) & 0xFF
        elif ft == 2:                                 # Up
            rec = (row + prev) & 0xFF
        elif ft == 3:                                 # Average
            rec = row.copy()
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (rec[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:                                 # Paeth
            rec = row.copy()
            for i in range(stride):
                a = rec[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                rec[i] = (rec[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG → (height, width, 3) uint8 RGB array.

    Supports the 8-bit non-interlaced profiles (gray, RGB, palette,
    gray+alpha, RGBA — alpha dropped, gray replicated, palette resolved
    via PLTE). 16-bit, sub-byte depths and Adam7 interlace raise
    ``NotImplementedError`` (quarantined upstream like JPEG)."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, idat, plte, hdr = 8, [], None, None
    while pos + 8 <= len(data):
        ln, typ = struct.unpack_from(">I4s", data, pos)
        chunk = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", chunk)
        elif typ == b"PLTE":
            plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
    if hdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, ctype, comp, filt, interlace = hdr
    if depth != 8 or interlace != 0:
        raise NotImplementedError(
            f"PNG bit depth {depth} / interlace {interlace} not "
            f"supported (8-bit non-interlaced only)")
    if comp != 0 or filt != 0 or ctype not in _PNG_CHANNELS:
        raise ValueError(f"invalid PNG header {hdr}")
    ch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    px = _png_unfilter(raw, h, stride, ch).reshape(h, w, ch)
    if ctype == 0:                       # grayscale
        return np.repeat(px, 3, axis=2)
    if ctype == 2:                       # RGB
        return px.copy()
    if ctype == 3:                       # palette
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        return plte[px[:, :, 0]]
    if ctype == 4:                       # gray + alpha
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3].copy()           # RGBA → RGB


def encode_png(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → non-interlaced 8-bit RGB PNG (filter 0
    scanlines) — fixture generator for round-trip tests."""
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(typ: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + typ + body
                + struct.pack(">I", zlib.crc32(typ + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


# ---------------------------------------------------------------------------
# PPM (P6)
# ---------------------------------------------------------------------------


def _ppm_tokens(data: bytes, n: int) -> tuple[list[bytes], int]:
    """First ``n`` whitespace-delimited header tokens (comments skipped);
    returns (tokens, offset just past the single whitespace that
    terminates the last token — the pixel data start)."""
    toks: list[bytes] = []
    i = 0
    while len(toks) < n:
        while i < len(data) and data[i:i + 1].isspace():
            i += 1
        if data[i:i + 1] == b"#":
            while i < len(data) and data[i] not in (0x0A, 0x0D):
                i += 1
            continue
        start = i
        while i < len(data) and not data[i:i + 1].isspace():
            i += 1
        if start == i:
            raise ValueError("truncated PPM header")
        toks.append(data[start:i])
    return toks, i + 1  # exactly one whitespace byte after maxval


def decode_ppm(data: bytes) -> np.ndarray:
    """P6 → (height, width, 3) uint8 RGB array."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    (_, w, h, maxval), off = _ppm_tokens(data, 4)
    w, h, maxval = int(w), int(h), int(maxval)
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    need = w * h * 3
    pixels = np.frombuffer(data, dtype=np.uint8, count=need, offset=off)
    return pixels.reshape(h, w, 3)


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + \
        np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


# ---------------------------------------------------------------------------
# BMP (uncompressed 24-bit)
# ---------------------------------------------------------------------------


def decode_bmp(data: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (height, width, 3) uint8 RGB array."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    rows = np.frombuffer(data, dtype=np.uint8, count=stride * h,
                         offset=pixel_off).reshape(h, stride)
    bgr = rows[:, :w * 3].reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(arr: np.ndarray) -> bytes:
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, :w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    raw = body.tobytes()
    header = struct.pack("<2sIHHI", b"BM", 54 + len(raw), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raw),
                      2835, 2835, 0, 0)
    return header + dib + raw


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81 baseline sequential DCT)
# ---------------------------------------------------------------------------

#: zigzag scan order: position k in the entropy stream → raster index
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

#: orthonormal 8-point DCT basis: A[x, u] = c_u/2 · cos((2x+1)uπ/16);
#: IDCT of a coefficient block C is A @ C @ A.T, FDCT is A.T @ B @ A.
_DCT_A = np.array([[
    (np.sqrt(0.5) if u == 0 else 1.0) / 2.0
    * np.cos((2 * x + 1) * u * np.pi / 16.0)
    for u in range(8)] for x in range(8)])


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data: un-stuffs
    0xFF00, stops at markers, and resynchronizes at RSTn."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.buf = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartPending()
            else:
                raise ValueError(
                    f"marker 0xFF{nxt:02X} inside entropy data")
        else:
            self.pos += 1
        self.buf = (self.buf << 8) | b
        self.nbits += 8

    def bits(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.buf >> self.nbits) & ((1 << n) - 1)
        self.buf &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Consume an RSTn marker and reset the bit buffer."""
        self.buf = 0
        self.nbits = 0
        d = self.data
        # tolerate pad bits already discarded; marker must be next
        if d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        self.pos += 2


class _RestartPending(Exception):
    """Internal: a RSTn marker arrived where data was expected."""


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | reader.bits(1)
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _build_huff(bits: list[int], vals: bytes) -> dict[tuple[int, int], int]:
    """DHT (bits-per-length, values) → {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JPEG → (height, width, 3) uint8 RGB array.

    Supports baseline sequential huffman (SOF0/SOF1-with-8-bit),
    grayscale and 3-component YCbCr at any integral sampling
    (4:4:4/4:2:2/4:2:0), restart intervals, single interleaved scan.
    Progressive (SOF2), arithmetic coding, 12-bit precision and
    multi-scan files raise ``NotImplementedError`` — quarantined
    upstream like the other undecodable formats.
    """
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None           # (w, h, [(cid, hi, vi, tq), ...])
    restart_interval = 0
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:                       # EOI
            break
        seg_len = (data[pos + 2] << 8) | data[pos + 3]
        body = data[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:                       # DQT
            i = 0
            while i < len(body):
                prec, tid = body[i] >> 4, body[i] & 15
                i += 1
                if prec:                          # 16-bit entries
                    tbl = np.frombuffer(body, ">u2", 64, i).astype(np.int32)
                    i += 128
                else:
                    tbl = np.frombuffer(body, np.uint8, 64, i).astype(np.int32)
                    i += 64
                qt[tid] = tbl                     # zigzag order
        elif marker == 0xC4:                     # DHT
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                vals = body[i + 17:i + 17 + n]
                (huff_ac if cls else huff_dc)[tid] = _build_huff(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):             # SOF0/SOF1 (baseline)
            if body[0] != 8:
                raise NotImplementedError(
                    f"JPEG sample precision {body[0]} not supported")
            h = (body[1] << 8) | body[2]
            w = (body[3] << 8) | body[4]
            ncomp = body[5]
            comps = [(body[6 + 3 * c], body[7 + 3 * c] >> 4,
                      body[7 + 3 * c] & 15, body[8 + 3 * c])
                     for c in range(ncomp)]
            frame = (w, h, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0} (progressive/arithmetic/"
                "hierarchical) not supported — baseline sequential only")
        elif marker == 0xDD:                     # DRI
            restart_interval = (body[0] << 8) | body[1]
        elif marker == 0xDA:                     # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = body[0]
            w, h, comps = frame
            if ns != len(comps):
                raise NotImplementedError(
                    "multi-scan (non-interleaved) baseline JPEG not "
                    "supported")
            tabsel = {body[1 + 2 * i]: (body[2 + 2 * i] >> 4,
                                        body[2 + 2 * i] & 15)
                      for i in range(ns)}
            return _jpeg_scan(data, pos, frame, qt, huff_dc, huff_ac,
                              tabsel, restart_interval)
        # APPn/COM/others: skipped
    raise ValueError("truncated JPEG (no SOS)")


def _jpeg_scan(data, pos, frame, qt, huff_dc, huff_ac, tabsel,
               restart_interval) -> np.ndarray:
    w, h, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    reader = _BitReader(data, pos)
    # per component: zigzag coefficient rows, one row per decoded block
    coef_rows = {c[0]: np.zeros((mcuy * c[2] * mcux * c[1], 64),
                                dtype=np.int32) for c in comps}
    pred = {c[0]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.restart()
                pred = {c[0]: 0 for c in comps}
            mcu_count += 1
            for cid, hi, vi, tq in comps:
                dc_tab = huff_dc[tabsel[cid][0]]
                ac_tab = huff_ac[tabsel[cid][1]]
                q = qt[tq]
                rows = coef_rows[cid]
                row_blocks = mcux * hi      # blocks per block-row
                for by in range(vi):
                    for bx in range(hi):
                        zz = np.zeros(64, dtype=np.int32)
                        s = _huff_decode(reader, dc_tab)
                        diff = _extend(reader.bits(s), s) if s else 0
                        pred[cid] += diff
                        zz[0] = pred[cid]
                        k = 1
                        while k < 64:
                            rs = _huff_decode(reader, ac_tab)
                            r, size = rs >> 4, rs & 15
                            if size == 0:
                                if r == 15:      # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break            # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            zz[k] = _extend(reader.bits(size), size)
                            k += 1
                        idx = (my * vi + by) * row_blocks + mx * hi + bx
                        rows[idx] = zz * q
    planes = {}
    for cid, hi, vi, tq in comps:
        rows = coef_rows[cid]
        blocks = np.zeros((len(rows), 64))
        blocks[:, _ZIGZAG] = rows                # un-zigzag
        blocks = blocks.reshape(-1, 8, 8)
        # batched IDCT: A @ C @ A.T over every block at once
        px = np.einsum("xu,nuv,yv->nxy", _DCT_A, blocks, _DCT_A)
        px = np.clip(np.round(px + 128.0), 0, 255).astype(np.uint8)
        bw = mcux * hi                           # blocks per row
        bh = mcuy * vi
        plane = (px.reshape(bh, bw, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8))
        # nearest-neighbor chroma upsample to the luma grid, then crop
        plane = np.repeat(np.repeat(plane, vmax // vi, 0), hmax // hi, 1)
        planes[cid] = plane[:h, :w]
    if len(comps) == 1:
        g = planes[comps[0][0]]
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = (planes[c[0]].astype(np.float64) for c in comps)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)),
                   0, 255).astype(np.uint8)


# Annex K example tables (ITU-T T.81 §K.1/K.3) — used by the encoder;
# the decoder always reads tables from the file's own DQT/DHT segments.
_Q_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99])
_Q_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99])
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = bytes(range(12))
_DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROM_VALS = bytes(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = bytes([
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
    0xF9, 0xFA])
_AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROM_VALS = bytes([
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
    0xF9, 0xFA])


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
            if b == 0xFF:                        # byte stuffing
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)      # 1-pad to byte boundary


def _enc_codes(bits: list[int],
               vals: bytes) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) for the encoder side."""
    table: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block(writer: _BitWriter, block: np.ndarray,
                  qtab: np.ndarray, dc_tab, ac_tab, pred: int) -> int:
    """FDCT + quantize + huffman-encode one 8×8 sample block; returns
    the new DC predictor."""
    coef = _DCT_A.T @ (block - 128.0) @ _DCT_A
    zz = np.round(coef / qtab).astype(np.int32).reshape(64)[_ZIGZAG]
    diff = int(zz[0]) - pred
    s = _category(diff)
    code, ln = dc_tab[s]
    writer.write(code, ln)
    if s:
        writer.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_tab[0xF0]              # ZRL
            writer.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_tab[(run << 4) | s]
        writer.write(code, ln)
        writer.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_tab[0x00]                  # EOB
        writer.write(code, ln)
    return int(zz[0])


def encode_jpeg(arr: np.ndarray, subsampling: str = "444",
                restart_interval: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JPEG with the Annex K example
    tables — fixture generator for round-trip tests (the same transform
    chain as the decoder, so round-trip error is bounded by quantization
    plus, for ``"420"``, the 2×2 chroma average). ``restart_interval``
    emits DRI + RSTn markers so the decoder's resync path is testable."""
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, _ = arr.shape
    rgb = arr.astype(np.float64)
    y = (0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
         + 0.114 * rgb[:, :, 2])
    cb = 128.0 - 0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] \
        + 0.5 * rgb[:, :, 2]
    cr = 128.0 + 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] \
        - 0.081312 * rgb[:, :, 2]

    # luma sampling factors; chroma is always 1×1
    hmax, vmax = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsampling]
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    def pad_to(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
        return np.pad(plane, ((0, ph - plane.shape[0]),
                              (0, pw - plane.shape[1])), "edge")

    y_p = pad_to(y, mcuy * vmax * 8, mcux * hmax * 8)
    # box-average chroma down by the luma sampling factors
    ch_h, ch_w = mcuy * 8, mcux * 8
    cbp = pad_to(cb, ch_h * vmax, ch_w * hmax)
    crp = pad_to(cr, ch_h * vmax, ch_w * hmax)
    cb_p = cbp.reshape(ch_h, vmax, ch_w, hmax).mean(axis=(1, 3))
    cr_p = crp.reshape(ch_h, vmax, ch_w, hmax).mean(axis=(1, 3))

    q_lum_r = np.empty(64, np.int32)
    q_lum_r[_ZIGZAG] = _Q_LUM                    # raster-order tables
    q_chrom_r = np.empty(64, np.int32)
    q_chrom_r[_ZIGZAG] = _Q_CHROM
    dc_tabs = (_enc_codes(_DC_LUM_BITS, _DC_LUM_VALS),
               _enc_codes(_DC_CHROM_BITS, _DC_CHROM_VALS))
    ac_tabs = (_enc_codes(_AC_LUM_BITS, _AC_LUM_VALS),
               _enc_codes(_AC_CHROM_BITS, _AC_CHROM_VALS))
    # (plane, table-id, h-factor, v-factor) per component
    comps = [(y_p, 0, hmax, vmax), (cb_p, 1, 1, 1), (cr_p, 1, 1, 1)]

    writer = _BitWriter()
    entropy = bytearray()
    pred = [0, 0, 0]
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                writer.flush()
                entropy += writer.out
                entropy += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) & 7
                writer = _BitWriter()
                pred = [0, 0, 0]
            mcu_count += 1
            for ci, (p, ti, hi, vi) in enumerate(comps):
                qtab = (q_lum_r if ti == 0 else q_chrom_r).reshape(8, 8)
                for by in range(vi):
                    for bx in range(hi):
                        r0 = (my * vi + by) * 8
                        c0 = (mx * hi + bx) * 8
                        block = p[r0:r0 + 8, c0:c0 + 8]
                        pred[ci] = _encode_block(
                            writer, block, qtab,
                            dc_tabs[ti], ac_tabs[ti], pred[ci])
    writer.flush()
    entropy += writer.out

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, bytes([0]) + bytes(int(x) for x in _Q_LUM))
    out += seg(0xDB, bytes([1]) + bytes(int(x) for x in _Q_CHROM))
    samp = (hmax << 4) | vmax
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([3]) + \
        bytes([1, samp, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    out += seg(0xC0, sof)
    for cls, tid, bits, vals in [
            (0, 0, _DC_LUM_BITS, _DC_LUM_VALS),
            (0, 1, _DC_CHROM_BITS, _DC_CHROM_VALS),
            (1, 0, _AC_LUM_BITS, _AC_LUM_VALS),
            (1, 1, _AC_CHROM_BITS, _AC_CHROM_VALS)]:
        out += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + vals)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# WAV (PCM via stdlib wave)
# ---------------------------------------------------------------------------

_WAV_DTYPES = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (samples float64 in [-1, 1] shaped (frames, channels),
    sample_rate)."""
    with wave.open(io.BytesIO(data), "rb") as wf:
        ch, sw, rate, n = (wf.getnchannels(), wf.getsampwidth(),
                           wf.getframerate(), wf.getnframes())
        if sw not in _WAV_DTYPES:
            raise NotImplementedError(f"unsupported sample width {sw}")
        raw = wf.readframes(n)
    x = np.frombuffer(raw, dtype=_WAV_DTYPES[sw]).astype(np.float64)
    if sw == 1:          # 8-bit WAV is unsigned, midpoint 128
        x = (x - 128.0) / 128.0
    else:
        x = x / float(2 ** (8 * sw - 1))
    return x.reshape(-1, ch), rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """(frames, channels) float in [-1, 1] → 16-bit PCM WAV bytes."""
    if samples.ndim == 1:
        samples = samples[:, None]
    pcm = np.clip(samples, -1.0, 1.0)
    pcm = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(samples.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(pcm.tobytes())
    return buf.getvalue()


# ---------------------------------------------------------------------------
# Decoded-content features
# ---------------------------------------------------------------------------


def decode_image(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes; NotImplementedError for formats needing
    libraries absent from this container (JPEG, …)."""
    kind = sniff(data)
    if kind == "png":
        return decode_png(data)
    if kind == "jpeg":
        return decode_jpeg(data)
    if kind == "ppm":
        return decode_ppm(data)
    if kind == "bmp":
        return decode_bmp(data)
    raise NotImplementedError(
        "no codec for this image format (supported here: baseline JPEG, "
        "PNG 8-bit, PPM P6, 24-bit BMP)")


def luma(arr: np.ndarray) -> np.ndarray:
    """Rec.601 grayscale from an RGB uint8 array."""
    return (0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1]
            + 0.114 * arr[:, :, 2])


def resize_nn(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of an (h, w[, c]) array via index maps —
    the decode/resize primitive for thumbnailing media payloads."""
    h, w = arr.shape[:2]
    ri = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    ci = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return arr[ri][:, ci]


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF container metadata (pure stdlib box walker)
# ---------------------------------------------------------------------------

#: container boxes whose payload is a sequence of child boxes
_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the boxes in
    data[start:end]. Tolerates truncated tails (stops); honors size==0
    (to end-of-enclosure) and size==1 (64-bit largesize)."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos:pos + 4], "big")
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 0:
            box_end = end
        elif size == 1:
            if pos + 16 > end:
                return
            size = int.from_bytes(data[pos + 8:pos + 16], "big")
            body = pos + 16
            box_end = pos + size
        else:
            box_end = pos + size
        if size != 0 and (size < 8 or box_end > end):
            return  # malformed/truncated: stop, keep what we have
        yield btype, body, box_end
        if box_end <= pos:
            return
        pos = box_end


def parse_mp4_metadata(data: bytes) -> dict:
    """REAL ISO-BMFF (MP4/MOV) container metadata, no codec libraries:
    walks the box tree and reads ``ftyp`` (major brand), ``mvhd``
    (movie timescale/duration, version 0 and 1), per-track ``tkhd``
    (16.16 fixed-point presentation width/height) and ``hdlr`` (handler
    type → video/audio track classification). Frame DECODE stays out of
    scope — this is the demux-metadata half a media pipeline needs for
    filtering/routing before any decode happens.

    Returns ``{brand, duration_ms, n_tracks, width, height, has_video,
    has_audio}``; raises ValueError when no ``moov``/``mvhd`` is found
    (callers quarantine per row, same contract as the image codecs).
    """
    brand = None
    duration_ms = None
    n_tracks = 0
    width = height = None
    has_video = has_audio = False

    def walk(start: int, end: int, in_trak: bool):
        nonlocal brand, duration_ms, n_tracks, width, height
        nonlocal has_video, has_audio
        for btype, b, e in _mp4_boxes(data, start, end):
            if btype == b"ftyp" and e - b >= 4:
                brand = data[b:b + 4].decode("ascii", "replace").strip()
            elif btype == b"mvhd" and e - b >= 4:
                ver = data[b]
                if ver == 1 and e - b >= 28:
                    ts = int.from_bytes(data[b + 20:b + 24], "big")
                    dur = int.from_bytes(data[b + 24:b + 32], "big")
                elif e - b >= 20:
                    ts = int.from_bytes(data[b + 12:b + 16], "big")
                    dur = int.from_bytes(data[b + 16:b + 20], "big")
                else:
                    continue
                if ts:
                    duration_ms = int(round(dur * 1000.0 / ts))
            elif btype == b"tkhd" and e - b >= 4:
                ver = data[b]
                # ISO 14496-12 §8.3.2: width sits after the 36-byte
                # matrix — payload offset 76 (v0) / 88 (v1)
                off = b + (88 if ver == 1 else 76)
                if off + 8 <= e:
                    w = int.from_bytes(data[off:off + 4], "big") >> 16
                    h = int.from_bytes(data[off + 4:off + 8], "big") >> 16
                    if w and h:  # audio tracks carry 0×0
                        width, height = w, h
            elif btype == b"hdlr" and in_trak and e - b >= 12:
                handler = data[b + 8:b + 12]
                if handler == b"vide":
                    has_video = True
                elif handler == b"soun":
                    has_audio = True
            if btype == b"trak":
                n_tracks += 1
            if btype in _MP4_CONTAINERS:
                walk(b, e, in_trak or btype == b"trak")

    walk(0, len(data), False)
    if duration_ms is None:
        raise ValueError("not an ISO-BMFF movie: no moov/mvhd box")
    return {"brand": brand, "duration_ms": duration_ms,
            "n_tracks": n_tracks, "width": width, "height": height,
            "has_video": has_video, "has_audio": has_audio}


def encode_mp4_stub(width: int, height: int, duration_ms: int,
                    timescale: int = 1000, brand: bytes = b"isom",
                    with_audio: bool = False, version: int = 0) -> bytes:
    """Minimal structurally-valid ISO-BMFF fixture (ftyp + moov with
    mvhd and one video trak — tkhd + mdia/hdlr — plus an optional audio
    trak). No media data; exists so the metadata parser is tested
    against real box layouts, mirroring the JPEG/PNG/WAV encoders."""
    def box(btype: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    dur = duration_ms * timescale // 1000
    if version == 1:
        mvhd = box(b"mvhd", bytes([1, 0, 0, 0]) + b"\x00" * 16
                   + timescale.to_bytes(4, "big") + dur.to_bytes(8, "big")
                   + b"\x00" * 80)
    else:
        mvhd = box(b"mvhd", b"\x00" * 12 + timescale.to_bytes(4, "big")
                   + dur.to_bytes(4, "big") + b"\x00" * 80)

    def trak(handler: bytes, w: int, h: int) -> bytes:
        # spec-correct v0 tkhd: 76 bytes (ver/flags..matrix) then 16.16
        # fixed-point width/height — 84-byte payload total
        tkhd = box(b"tkhd", b"\x00" * 76 + (w << 16).to_bytes(4, "big")
                   + (h << 16).to_bytes(4, "big"))
        hdlr = box(b"hdlr", b"\x00" * 8 + handler + b"\x00" * 13)
        return box(b"trak", tkhd + box(b"mdia", hdlr))

    traks = trak(b"vide", width, height)
    if with_audio:
        traks += trak(b"soun", 0, 0)
    return box(b"ftyp", brand + b"\x00\x00\x02\x00" + brand) \
        + box(b"moov", mvhd + traks)


# ---------------------------------------------------------------------------
# MP4 sample tables + MJPEG track demux (pure stdlib)
# ---------------------------------------------------------------------------

#: stsd fourccs whose samples are self-contained baseline JPEG images
_MJPEG_FOURCCS = {b"jpeg", b"mjpa", b"mjpb", b"AVDJ", b"dmb1"}


def parse_mp4_samples(data: bytes) -> list[dict]:
    """Flatten each track's sample tables into addressable samples.

    Walks ``moov/trak/mdia`` reading ``hdlr`` (handler), ``mdhd``
    (media timescale), ``stsd`` (first sample-entry fourcc), then
    expands ``stts`` (decode deltas) × ``stsc`` (sample→chunk runs) ×
    ``stsz`` (sizes) × ``stco``/``co64`` (chunk offsets) into per-track
    ``{"handler", "codec", "timescale", "samples": [(offset, size,
    ts_ms), ...]}``. This is the demux half of frame extraction — pure
    byte arithmetic over the ISO-BMFF tables (ISO/IEC 14496-12 §8.5-8.7),
    no codec involved. Tracks with incomplete tables yield no samples
    rather than raising (same tolerance as the box walker).
    """
    tracks: list[dict] = []

    def u32(off: int) -> int:
        return int.from_bytes(data[off:off + 4], "big")

    def walk_trak(start: int, end: int, tr: dict):
        for btype, b, e in _mp4_boxes(data, start, end):
            if btype == b"hdlr" and e - b >= 12:
                tr["handler"] = data[b + 8:b + 12]
            elif btype == b"mdhd" and e - b >= 4:
                ver = data[b]
                off = b + (20 if ver == 1 else 12)
                if off + 4 <= e:
                    tr["timescale"] = u32(off)
            elif btype == b"stsd" and e - b >= 16:
                tr["codec"] = data[b + 12:b + 16]
            elif btype == b"stts" and e - b >= 8:
                n = u32(b + 4)
                tr["stts"] = [(u32(b + 8 + 8 * i), u32(b + 12 + 8 * i))
                              for i in range(n) if b + 16 + 8 * i <= e]
            elif btype == b"stsc" and e - b >= 8:
                n = u32(b + 4)
                tr["stsc"] = [(u32(b + 8 + 12 * i), u32(b + 12 + 12 * i))
                              for i in range(n) if b + 20 + 12 * i <= e]
            elif btype == b"stsz" and e - b >= 12:
                fixed, n = u32(b + 4), u32(b + 8)
                if fixed:
                    tr["sizes"] = [fixed] * n
                else:
                    tr["sizes"] = [u32(b + 12 + 4 * i) for i in range(n)
                                   if b + 16 + 4 * i <= e]
            elif btype == b"stco" and e - b >= 8:
                n = u32(b + 4)
                tr["chunks"] = [u32(b + 8 + 4 * i) for i in range(n)
                                if b + 12 + 4 * i <= e]
            elif btype == b"co64" and e - b >= 8:
                n = u32(b + 4)
                tr["chunks"] = [int.from_bytes(data[b + 8 + 8 * i:
                                                    b + 16 + 8 * i], "big")
                                for i in range(n) if b + 16 + 8 * i <= e]
            if btype in _MP4_CONTAINERS:
                walk_trak(b, e, tr)

    def walk(start: int, end: int):
        for btype, b, e in _mp4_boxes(data, start, end):
            if btype == b"trak":
                tr: dict = {"handler": None, "codec": None,
                            "timescale": 0, "stts": [], "stsc": [],
                            "sizes": [], "chunks": []}
                walk_trak(b, e, tr)
                tracks.append(tr)
            elif btype in _MP4_CONTAINERS:
                walk(b, e)

    walk(0, len(data))

    out = []
    for tr in tracks:
        sizes, chunks, stsc = tr["sizes"], tr["chunks"], tr["stsc"]
        ts = tr["timescale"]
        # expand stts deltas → per-sample decode timestamps
        deltas: list[int] = []
        for cnt, delta in tr["stts"]:
            deltas.extend([delta] * cnt)
        samples: list[tuple[int, int, int]] = []
        if sizes and chunks and stsc and ts:
            # stsc runs: entry (first_chunk, spc) applies up to the next
            # entry's first_chunk (1-based, ISO 14496-12 §8.7.4)
            si = 0   # next sample index
            t = 0    # running decode time in media timescale
            for ci, coff in enumerate(chunks, start=1):
                spc = 0
                for first, n in stsc:
                    if first <= ci:
                        spc = n
                    else:
                        break
                off = coff
                for _ in range(spc):
                    if si >= len(sizes):
                        break
                    ts_ms = t * 1000 // ts
                    samples.append((off, sizes[si], ts_ms))
                    t += deltas[si] if si < len(deltas) else 0
                    off += sizes[si]
                    si += 1
        out.append({"handler": tr["handler"], "codec": tr["codec"],
                    "timescale": ts, "samples": samples})
    return out


def extract_mjpeg_frames(data: bytes) -> list[tuple[int, bytes]]:
    """REAL frame extraction for MJPEG-in-MP4: demux the first video
    track whose sample entry is an MJPEG fourcc and slice each sample
    (a self-contained baseline JPEG) out of ``mdat``. Returns
    ``[(ts_ms, jpeg_bytes), ...]`` in decode order; the bytes feed
    ``decode_jpeg`` directly.

    Raises ValueError when the payload has no demuxable video track and
    NotImplementedError when the video codec isn't MJPEG (H.264/HEVC
    need libraries not in this container) — callers quarantine/stub per
    row, the same contract as the image codecs.
    """
    video = [t for t in parse_mp4_samples(data)
             if t["handler"] == b"vide" and t["samples"]]
    if not video:
        raise ValueError("no demuxable video track (missing/empty "
                         "sample tables)")
    tr = video[0]
    if tr["codec"] not in _MJPEG_FOURCCS:
        codec = (tr["codec"] or b"?").decode("ascii", "replace")
        raise NotImplementedError(
            f"no codec for video sample format '{codec}' "
            "(supported here: MJPEG)")
    frames = []
    for off, size, ts_ms in tr["samples"]:
        chunk = data[off:off + size]
        if len(chunk) != size or sniff(chunk) != "jpeg":
            raise ValueError(
                f"sample at {off}+{size} is not a JPEG (corrupt tables?)")
        frames.append((ts_ms, chunk))
    return frames


def encode_mjpeg_mp4(frames: list[np.ndarray], fps: int = 5,
                     brand: bytes = b"isom") -> bytes:
    """Mux (h, w, 3) uint8 RGB frames into a minimal-but-real
    MJPEG-in-MP4: each frame is baseline-JPEG encoded (Annex K tables,
    4:4:4) into one sample, one chunk holds all samples, and the moov
    carries genuine stsd/stts/stsc/stsz/stco tables plus the same
    mvhd/tkhd/hdlr/mdhd layout the metadata parser reads. Fixture
    counterpart of ``extract_mjpeg_frames``."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    samples = [encode_jpeg(f) for f in frames]
    n = len(samples)

    def box(btype: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + btype + payload

    ftyp = box(b"ftyp", brand + b"\x00\x00\x02\x00" + brand)
    mdat_body_off = len(ftyp) + 8
    mdat = box(b"mdat", b"".join(samples))

    # ISO 14496-12 visual sample entry (86 bytes) with fourcc 'jpeg'
    entry = (b"\x00" * 6 + (1).to_bytes(2, "big")          # data_ref_idx
             + b"\x00" * 16
             + w.to_bytes(2, "big") + h.to_bytes(2, "big")
             + (0x00480000).to_bytes(4, "big") * 2          # 72 dpi
             + b"\x00" * 4 + (1).to_bytes(2, "big")         # frame_count
             + b"\x05MJPEG" + b"\x00" * 26                  # compressor
             + (24).to_bytes(2, "big") + (0xFFFF).to_bytes(2, "big"))
    stsd = box(b"stsd", b"\x00" * 4 + (1).to_bytes(4, "big")
               + (8 + len(entry)).to_bytes(4, "big") + b"jpeg" + entry)
    stts = box(b"stts", b"\x00" * 4 + (1).to_bytes(4, "big")
               + n.to_bytes(4, "big") + (1).to_bytes(4, "big"))
    stsc = box(b"stsc", b"\x00" * 4 + (1).to_bytes(4, "big")
               + (1).to_bytes(4, "big") + n.to_bytes(4, "big")
               + (1).to_bytes(4, "big"))
    stsz = box(b"stsz", b"\x00" * 4 + (0).to_bytes(4, "big")
               + n.to_bytes(4, "big")
               + b"".join(len(s).to_bytes(4, "big") for s in samples))
    stco = box(b"stco", b"\x00" * 4 + (1).to_bytes(4, "big")
               + mdat_body_off.to_bytes(4, "big"))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    mdhd = box(b"mdhd", b"\x00" * 12 + fps.to_bytes(4, "big")
               + n.to_bytes(4, "big") + b"\x00" * 4)
    hdlr = box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 13)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = box(b"tkhd", b"\x00" * 76 + (w << 16).to_bytes(4, "big")
               + (h << 16).to_bytes(4, "big"))
    trak = box(b"trak", tkhd + mdia)
    mvhd = box(b"mvhd", b"\x00" * 12 + fps.to_bytes(4, "big")
               + n.to_bytes(4, "big") + b"\x00" * 80)
    return ftyp + mdat + box(b"moov", mvhd + trak)


def dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash (dHash) of a decoded RGB image: luma →
    nearest-neighbor resize to 8×9 → one bit per
    horizontally adjacent pair (1 iff left < right), row-major from the
    MSB. Gradient-based, so it is invariant to global brightness shifts
    and robust to re-encoding/resizing — the standard cheap perceptual
    fingerprint for crawl-image dedup (Krawetz's dHash)."""
    g = resize_nn(luma(arr), 8, 9)
    bits = 0
    for r in range(8):
        for c in range(8):
            bits = (bits << 1) | int(g[r, c] < g[r, c + 1])
    return bits
