#!/usr/bin/env python3
"""Arrow-batch REAL media decoder for graft.ext.Multimodal.decodeViaWorker.

Pure-numpy BMP (24bpp uncompressed) + WAV (PCM16) decoder: reads ONE
Arrow IPC stream on stdin holding (media_id: int64, payload: binary)
rows, writes ONE Arrow IPC stream on stdout holding
(media_id, format, width, height, channels, sample_rate, n_samples,
mean_value) rows.

Mirrors graft.ext.Multimodal.decodeReal BIT-for-bit: every accumulation
is integer-exact (byte sums / int64 square sums), so mean_value is the
same IEEE double on both sides — the JVM parity spec asserts exact
equality. Swapping in a full codec (PIL/soundfile/GPU decoder) changes
only decode_one().
"""
import math
import struct
import sys

import numpy as np
import pyarrow as pa


def decode_bmp(b):
    if len(b) < 54:
        raise ValueError("truncated BMP header")
    data_off, = struct.unpack_from("<I", b, 10)
    hdr_size, = struct.unpack_from("<I", b, 14)
    if hdr_size < 40:
        raise ValueError("unsupported BMP core-header size %d" % hdr_size)
    w, h = struct.unpack_from("<ii", b, 18)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    comp, = struct.unpack_from("<I", b, 30)
    if w <= 0 or h <= 0 or planes != 1 or bpp != 24 or comp != 0:
        raise ValueError("unsupported BMP variant")
    row_bytes = w * 3
    row_stride = (row_bytes + 3) & ~3
    if len(b) < data_off + row_stride * (h - 1) + row_bytes:
        raise ValueError("truncated BMP pixel data")
    # rows are bottom-up and padded; gather the unpadded pixel bytes
    arr = np.frombuffer(b, dtype=np.uint8)
    total = 0
    for r in range(h):
        base = data_off + r * row_stride
        total += int(arr[base:base + row_bytes].astype(np.int64).sum())
    n_px_bytes = row_bytes * h
    return ("image/bmp", w, h, 3, 0, w * h, total / n_px_bytes)


def _ulaw_to_pcm(u):
    u = ~u & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def _alaw_to_pcm(a):
    a = (a ^ 0x55) & 0xFF
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


# --- IMA/DVI ADPCM (twin of graft.ext.Adpcm) ---
# Integer-exact: the step/index tables are spec constants (identical to
# CPython audioop's independent implementation) and every arithmetic
# step mirrors the JVM decoder, so decoded samples are bit-identical.

_ADPCM_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]
_ADPCM_IDX = [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_step(nib, pred, idx):
    st = _ADPCM_STEP[idx]
    diff = st >> 3
    if nib & 1:
        diff += st >> 2
    if nib & 2:
        diff += st >> 1
    if nib & 4:
        diff += st
    pred = pred - diff if nib & 8 else pred + diff
    pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
    idx = idx + _ADPCM_IDX[nib]
    idx = 0 if idx < 0 else (88 if idx > 88 else idx)
    return pred, idx


def _adpcm_wav_blocks(b, off, length, block_align, fact_samples=-1):
    # Mirrors Adpcm.decodeWavBlocks (advice round 18): a short final
    # block (>= 4-byte header) decodes 1 + (bytes-4)*2 samples, and a
    # fact chunk's sample count trims the encoder's zero-padded tail.
    if block_align < 8 or block_align % 4:
        raise ValueError("bad IMA-ADPCM block align")
    tail = length % block_align
    if tail and tail < 4:
        raise ValueError("truncated IMA-ADPCM data: final block < 4 bytes")
    out = []
    for base in range(off, off + length, block_align):
        block_bytes = min(block_align, off + length - base)
        pred = int.from_bytes(b[base:base + 2], "little", signed=True)
        idx = b[base + 2]
        if idx > 88:
            raise ValueError("corrupt IMA-ADPCM block: step index > 88")
        out.append(pred)
        for i in range(base + 4, base + block_bytes):
            byte = b[i]
            pred, idx = _adpcm_step(byte & 0xF, pred, idx)  # low first
            out.append(pred)
            pred, idx = _adpcm_step((byte >> 4) & 0xF, pred, idx)
            out.append(pred)
    if fact_samples < 0 or fact_samples == len(out):
        return out
    if fact_samples > len(out):
        raise ValueError("corrupt IMA-ADPCM WAV: fact exceeds decoded samples")
    # the trim may only eat into the LAST block — bound by ITS capacity
    # (short final blocks hold fewer than a full block's samples)
    last_block = 1 + (tail - 4) * 2 if tail else 1 + (block_align - 4) * 2
    if fact_samples <= len(out) - last_block:
        raise ValueError("corrupt IMA-ADPCM WAV: fact leaves a whole block unused")
    return out[:fact_samples]


def decode_wav(b):
    off = 12
    channels = sample_rate = -1
    fmt = -1
    data_off = data_len = -1
    fact_samples = -1
    # walk EVERY chunk header (payload skipped by length): a fact chunk
    # AFTER data is spec-legal and must still trim the ADPCM tail
    while off + 8 <= len(b):
        cid = b[off:off + 4]
        clen, = struct.unpack_from("<I", b, off + 4)
        if cid == b"fact" and clen >= 4 and off + 12 <= len(b):
            fact_samples, = struct.unpack_from("<I", b, off + 8)
        if cid == b"fmt ":
            if clen < 16 or off + 24 > len(b):
                raise ValueError("truncated fmt chunk")
            fmt, channels = struct.unpack_from("<HH", b, off + 8)
            sample_rate, = struct.unpack_from("<I", b, off + 12)
            block_align, = struct.unpack_from("<H", b, off + 20)
            bits, = struct.unpack_from("<H", b, off + 22)
            if not ((fmt == 1 and bits == 16)
                    or (fmt in (6, 7) and bits == 8)
                    or (fmt == 0x11 and bits == 4 and channels == 1)):
                raise ValueError("unsupported WAV variant")
        elif cid == b"data":
            data_off, data_len = off + 8, clen
        off += 8 + clen + (clen & 1)  # RIFF chunks pad to even
    if channels <= 0 or sample_rate <= 0 or data_off < 0:
        raise ValueError("WAV missing fmt/data chunk")
    if data_off + data_len > len(b):
        raise ValueError("truncated WAV data")
    if fmt == 1:
        samples = np.frombuffer(b, dtype="<i2", count=data_len // 2,
                                offset=data_off).astype(np.int64)
    elif fmt == 0x11:
        samples = np.array(_adpcm_wav_blocks(b, data_off, data_len,
                                             block_align, fact_samples),
                           dtype=np.int64)
    else:
        # G.711 expansion to linear PCM16 via a 256-entry table —
        # identical formulas to the JVM's ulawToPcm/alawToPcm
        expand = _ulaw_to_pcm if fmt == 7 else _alaw_to_pcm
        table = np.array([expand(v) for v in range(256)], dtype=np.int64)
        samples = table[np.frombuffer(b, dtype=np.uint8, count=data_len,
                                      offset=data_off)]
    n = len(samples)
    # float(sq) BEFORE the divide mirrors the JVM's sq.toDouble / n
    # exactly — a direct int/int true-division is correctly rounded and
    # can differ by 1 ulp once sq exceeds 2^53 (hours-long PCM)
    rms = (0.0 if n == 0
           else math.sqrt(float(int((samples * samples).sum())) / n) / 32768.0)
    return ("audio/wav", 0, 0, channels, sample_rate,
            n // max(channels, 1), rms)


def decode_ppm(b):
    """P6 twin of Multimodal.ppmPixels + the image branch of decodeReal:
    whitespace/comment header walk, single-whitespace pixel boundary,
    integer-exact byte mean."""
    off = 2
    ws = b" \n\r\t"

    def skip_ws_comments():
        nonlocal off
        moved = True
        while moved:
            moved = False
            while off < len(b) and b[off:off + 1] in ws:
                off += 1
                moved = True
            if off < len(b) and b[off:off + 1] == b"#":
                while off < len(b) and b[off:off + 1] != b"\n":
                    off += 1
                moved = True

    def read_int():
        nonlocal off
        skip_ws_comments()
        if off >= len(b) or not b[off:off + 1].isdigit():
            raise ValueError("P6 header: expected digits")
        v = 0
        while off < len(b) and b[off:off + 1].isdigit():
            v = v * 10 + int(b[off:off + 1])
            off += 1
        return v

    w, h, maxval = read_int(), read_int(), read_int()
    if w <= 0 or h <= 0 or not (1 <= maxval <= 255):
        raise ValueError("unsupported P6 variant")
    if off >= len(b) or b[off:off + 1] not in ws:
        raise ValueError("P6 header: missing pixel-data whitespace")
    off += 1
    need = w * h * 3
    if len(b) < off + need:
        raise ValueError("truncated P6 pixel data")
    arr = np.frombuffer(b, dtype=np.uint8, count=need, offset=off)
    total = int(arr.astype(np.int64).sum())
    return ("image/x-portable-pixmap", w, h, 3, 0, w * h, total / need)


def decode_avi(b):
    """Uncompressed-AVI twin of Multimodal.aviFrames + the video branch of
    decodeReal: nested LIST walk (strl scoping, movi/rec frames, even
    padding), geometry from the vids strf, integer-exact pixel mean."""
    w = h = bpp = -1
    comp = rate = scale = -1
    total = 0
    n_frames = 0
    n_px_bytes = 0
    arr = np.frombuffer(b, dtype=np.uint8)

    def parse_strl(off, end):
        nonlocal w, h, bpp, comp, rate, scale
        vids = False
        while off + 8 <= end:
            cid = b[off:off + 4]
            clen, = struct.unpack_from("<I", b, off + 4)
            if off + 8 + clen > end:
                raise ValueError("AVI chunk overruns strl")
            if cid == b"strh":
                # mirror the JVM's minimum-length guards: without them a
                # short strh/strf makes unpack_from read bytes from the
                # FOLLOWING chunk — garbage geometry where the JVM fails
                # loudly, breaking bit-for-bit parity on malformed inputs
                if clen < 28:
                    raise ValueError("truncated strh chunk")
                vids = b[off + 8:off + 12] == b"vids"
                if vids:
                    scale, rate = struct.unpack_from("<II", b, off + 8 + 20)
            elif cid == b"strf" and vids:
                if clen < 40:
                    raise ValueError("truncated vids strf (BITMAPINFOHEADER)")
                w, h = struct.unpack_from("<ii", b, off + 8 + 4)
                bpp, = struct.unpack_from("<H", b, off + 8 + 14)
                comp, = struct.unpack_from("<I", b, off + 8 + 16)
            off += 8 + clen + (clen & 1)

    def walk(off, end, in_movi):
        nonlocal total, n_frames, n_px_bytes
        while off + 8 <= end:
            cid = b[off:off + 4]
            clen, = struct.unpack_from("<I", b, off + 4)
            if off + 8 + clen > end:
                raise ValueError("AVI chunk overruns its parent")
            if cid == b"LIST":
                ltype = b[off + 8:off + 12]
                if ltype == b"strl":
                    parse_strl(off + 12, off + 8 + clen)
                elif ltype in (b"hdrl", b"movi", b"rec "):
                    walk(off + 12, off + 8 + clen,
                         in_movi or ltype == b"movi")
            elif (in_movi and cid[:2].isdigit()
                    and comp == 0x47504A4D and cid[2:] == b"dc" and clen):
                # Motion-JPEG: each dc chunk is one complete baseline
                # JPEG — same decoder as the still-image path (JVM twin:
                # aviFrames' Jpeg.decode branch)
                if w <= 0 or h <= 0:
                    raise ValueError("AVI frame before vids strf")
                fw, fh, t = _jpeg_sum(bytes(b[off + 8:off + 8 + clen]))
                if fw != w or fh != h:
                    raise ValueError("corrupt MJPEG AVI: frame SOF "
                                     "%dx%d != strf %dx%d" % (fw, fh, w, h))
                total += t
                n_frames += 1
                n_px_bytes += fw * fh * 3
            elif (in_movi and cid[:2].isdigit()
                    and (cid[2:] == b"db" or (cid[2:] == b"dc" and clen))):
                if w <= 0 or h <= 0:
                    raise ValueError("AVI frame before vids strf")
                if comp == 0x47504A4D:
                    # a DIB chunk under an MJPG header is a corrupt mix
                    raise ValueError("corrupt MJPEG AVI: uncompressed "
                                     "frame chunk")
                row_bytes = w * 3
                row_stride = (row_bytes + 3) & ~3
                if clen < row_stride * (h - 1) + row_bytes:
                    raise ValueError("truncated AVI frame chunk")
                # unpadded DIB rows only — same multiset of bytes as the
                # JVM's unpacked RGB, so the integer sums agree exactly
                for r in range(h):
                    base = off + 8 + r * row_stride
                    total += int(arr[base:base + row_bytes]
                                 .astype(np.int64).sum())
                n_frames += 1
                n_px_bytes += row_bytes * h
            off += 8 + clen + (clen & 1)

    walk(12, len(b), False)
    if (w <= 0 or h <= 0 or bpp != 24 or comp not in (0, 0x47504A4D)
            or scale <= 0 or rate <= 0):
        raise ValueError("unsupported AVI variant")
    # floor(x+0.5) mirrors the JVM's Math.round (half-UP; python's round
    # is half-to-even — a rate/scale like 5/2 would diverge)
    fps = int(math.floor(rate / scale + 0.5))
    mean = 0.0 if n_px_bytes == 0 else total / n_px_bytes
    return ("video/avi", w, h, 3, fps, n_frames, mean)


# ——— baseline JPEG (twin of graft.ext.Jpeg.decode) ———
# Every arithmetic step mirrors the JVM decoder exactly: the HARDCODED
# fixed-point DCT table (never recomputed from cos), Long/int IDCT with
# ((acc + 2^27) >> 28) + 128 rounding, 16.16 fixed-point YCbCr->RGB,
# replication upsampling. Python ints are arbitrary-precision and >> is
# floor division, same as Java's arithmetic shift on Long — so the
# decoded pixels (and therefore mean_value) are bit-identical.

_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]

_JPEG_DCT13 = [
    [5793, 5793, 5793, 5793, 5793, 5793, 5793, 5793],
    [8035, 6811, 4551, 1598, -1598, -4551, -6811, -8035],
    [7568, 3135, -3135, -7568, -7568, -3135, 3135, 7568],
    [6811, -1598, -8035, -4551, 4551, 8035, 1598, -6811],
    [5793, -5793, -5793, 5793, 5793, -5793, -5793, 5793],
    [4551, -8035, 1598, 6811, -6811, -1598, 8035, -4551],
    [3135, -7568, 7568, -3135, -3135, 7568, -7568, 3135],
    [1598, -4551, 6811, -8035, 8035, -6811, 4551, -1598]]


class _JpegHuff:
    def __init__(self, bits, vals):
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        self.vals = vals
        code = 0
        k = 0
        for l in range(1, 17):
            if bits[l - 1] > 0:
                self.valptr[l] = k
                self.mincode[l] = code
                code += bits[l - 1]
                k += bits[l - 1]
                self.maxcode[l] = code - 1
            code <<= 1

    def decode(self, r):
        c = 0
        for l in range(1, 17):
            c = (c << 1) | r.next_bit()
            if self.maxcode[l] >= 0 and c <= self.maxcode[l]:
                return self.vals[self.valptr[l] + c - self.mincode[l]]
        raise ValueError("corrupt JPEG: Huffman code longer than 16 bits")


class _JpegBits:
    def __init__(self, b, pos):
        self.b = b
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def next_bit(self):
        if self.nbits == 0:
            if self.pos >= len(self.b):
                raise ValueError("truncated JPEG entropy stream")
            v = self.b[self.pos]
            self.pos += 1
            if v == 0xFF:
                if self.pos >= len(self.b):
                    raise ValueError("truncated JPEG entropy stream at FF")
                if self.b[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside JPEG "
                                     "entropy stream")
                self.pos += 1
            self.cur = v
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def receive(self, n):
        v = 0
        for _ in range(n):
            v = (v << 1) | self.next_bit()
        return v

    def restart(self):
        self.nbits = 0
        if self.pos + 1 >= len(self.b):
            raise ValueError("truncated JPEG at restart marker")
        if self.b[self.pos] != 0xFF or (self.b[self.pos + 1] & 0xF8) != 0xD0:
            raise ValueError("expected restart marker")
        self.pos += 2


def _jpeg_extend(v, s):
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _jpeg_idct(coef):
    t = [0] * 64
    for cu in range(8):
        for y in range(8):
            acc = 0
            for cv in range(8):
                acc += _JPEG_DCT13[cv][y] * coef[cv * 8 + cu]
            t[cu * 8 + y] = acc
    out = [0] * 64
    for y in range(8):
        for x in range(8):
            acc = 0
            for cu in range(8):
                acc += _JPEG_DCT13[cu][x] * t[cu * 8 + y]
            v = ((acc + (1 << 27)) >> 28) + 128
            out[y * 8 + x] = 0 if v < 0 else (255 if v > 255 else v)
    return out


def _jpeg_sum(b):
    """Decode one baseline JPEG, returning (w, h, pixel-byte total) —
    shared by decode_jpeg and decode_avi's MJPG frames."""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        raise ValueError("not a JPEG payload")
    quant = [None] * 4
    dc_dec = [None] * 4
    ac_dec = [None] * 4
    comps = None  # list of [id, h, v, tq, dc_tab, ac_tab]
    w = h = 0
    restart_interval = 0
    pos = 2
    sos_pos = -1
    while sos_pos < 0:
        if pos + 1 >= len(b):
            raise ValueError("truncated JPEG: no SOS marker")
        if b[pos] != 0xFF:
            raise ValueError("corrupt JPEG: expected marker")
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        pos += 2
        if marker in (0xD8, 0xD9):
            raise ValueError("corrupt JPEG: unexpected SOI/EOI")
        if marker == 0x01:
            continue
        if 0xD0 <= marker <= 0xD7:
            raise ValueError("corrupt JPEG: restart outside entropy stream")
        if pos + 2 > len(b):
            raise ValueError("truncated JPEG marker segment")
        seg_len = (b[pos] << 8) | b[pos + 1]
        if seg_len < 2 or pos + seg_len > len(b):
            raise ValueError("truncated JPEG marker segment")
        seg = pos + 2
        seg_end = pos + seg_len
        if marker in (0xC0, 0xC1):
            if b[seg] != 8:
                raise ValueError("unsupported JPEG precision")
            h = (b[seg + 1] << 8) | b[seg + 2]
            w = (b[seg + 3] << 8) | b[seg + 4]
            if w <= 0 or h <= 0 or w * h > (64 << 20):
                raise ValueError("unsupported JPEG dimensions")
            nf = b[seg + 5]
            if nf not in (1, 3):
                raise ValueError("unsupported JPEG component count")
            comps = []
            for i in range(nf):
                o = seg + 6 + 3 * i
                hi, vi = b[o + 1] >> 4, b[o + 1] & 15
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise ValueError("unsupported sampling factor")
                comps.append([b[o], hi, vi, b[o + 2], 0, 0])
        elif marker == 0xC2:
            raise ValueError("unsupported JPEG: progressive DCT")
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError("unsupported JPEG SOF variant")
        elif marker == 0xC4:
            o = seg
            while o < seg_end:
                tc, th = b[o] >> 4, b[o] & 15
                if tc > 1 or th > 3:
                    raise ValueError("bad DHT class/id")
                bits = list(b[o + 1:o + 17])
                n = sum(bits)
                if o + 17 + n > seg_end:
                    raise ValueError("truncated DHT values")
                vals = list(b[o + 17:o + 17 + n])
                dec = _JpegHuff(bits, vals)
                if tc == 0:
                    dc_dec[th] = dec
                else:
                    ac_dec[th] = dec
                o += 17 + n
        elif marker == 0xDB:
            o = seg
            while o < seg_end:
                pq, tq = b[o] >> 4, b[o] & 15
                if pq != 0:
                    raise ValueError("unsupported 16-bit quant table")
                if tq > 3 or o + 65 > seg_end:
                    raise ValueError("truncated DQT")
                q = [0] * 64
                for k in range(64):
                    q[_JPEG_ZIGZAG[k]] = b[o + 1 + k]
                quant[tq] = q
                o += 65
        elif marker == 0xDD:
            if seg_len != 4:
                raise ValueError("bad DRI length")
            restart_interval = (b[seg] << 8) | b[seg + 1]
        elif marker == 0xDA:
            if comps is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = b[seg]
            if ns != len(comps):
                raise ValueError("unsupported JPEG scan layout")
            for i in range(ns):
                cs = b[seg + 1 + 2 * i]
                tt = b[seg + 2 + 2 * i]
                c = next((c for c in comps if c[0] == cs), None)
                if c is None:
                    raise ValueError("corrupt JPEG: unknown scan component")
                c[4], c[5] = tt >> 4, tt & 15
            ss, se = b[seg + 1 + 2 * ns], b[seg + 2 + 2 * ns]
            if ss != 0 or se != 63 or b[seg + 3 + 2 * ns] != 0:
                raise ValueError("unsupported JPEG scan parameters")
            sos_pos = seg_end
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            pass
        else:
            raise ValueError("unsupported JPEG marker 0x%02X" % marker)
        if sos_pos < 0:
            pos = seg_end

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = (w + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [[0] * (mcus_x * 8 * c[1] * mcus_y * 8 * c[2]) for c in comps]
    for c in comps:
        if dc_dec[c[4]] is None or ac_dec[c[5]] is None or quant[c[3]] is None:
            raise ValueError("corrupt JPEG: undefined table referenced")
    r = _JpegBits(b, sos_pos)
    pred = [0] * len(comps)
    n_mcus = mcus_x * mcus_y
    for mcu in range(n_mcus):
        if restart_interval > 0 and mcu > 0 and mcu % restart_interval == 0:
            r.restart()
            pred = [0] * len(comps)
        mx, my = mcu % mcus_x, mcu // mcus_x
        for ci, c in enumerate(comps):
            q = quant[c[3]]
            dc, ac = dc_dec[c[4]], ac_dec[c[5]]
            plane_w = mcus_x * 8 * c[1]
            for by in range(c[2]):
                for bx in range(c[1]):
                    coef = [0] * 64
                    t = dc.decode(r)
                    if t > 11:
                        raise ValueError("corrupt JPEG: DC size category")
                    diff = _jpeg_extend(r.receive(t), t) if t else 0
                    pred[ci] += diff
                    coef[0] = pred[ci] * q[0]
                    k = 1
                    while k < 64:
                        rs = ac.decode(r)
                        rr, s = rs >> 4, rs & 15
                        if s == 0:
                            if rr == 15:
                                k += 16
                                continue
                            break
                        k += rr
                        if k >= 64:
                            raise ValueError("corrupt JPEG: AC index > 63")
                        z = _JPEG_ZIGZAG[k]
                        coef[z] = _jpeg_extend(r.receive(s), s) * q[z]
                        k += 1
                    samples = _jpeg_idct(coef)
                    px0 = (mx * c[1] + bx) * 8
                    py0 = (my * c[2] + by) * 8
                    for yy in range(8):
                        base = (py0 + yy) * plane_w + px0
                        planes[ci][base:base + 8] = samples[yy * 8:yy * 8 + 8]

    total = 0
    y_w = mcus_x * 8 * comps[0][1]
    if len(comps) == 1:
        for y in range(h):
            row = planes[0][y * y_w:y * y_w + w]
            total += 3 * sum(row)
    else:
        yc, cbc, crc = comps
        cb_w = mcus_x * 8 * cbc[1]
        cr_w = mcus_x * 8 * crc[1]
        for y in range(h):
            y_y = y * yc[2] // vmax
            cb_y = y * cbc[2] // vmax
            cr_y = y * crc[2] // vmax
            for x in range(w):
                yv = planes[0][y_y * y_w + x * yc[1] // hmax]
                cbv = planes[1][cb_y * cb_w + x * cbc[1] // hmax] - 128
                crv = planes[2][cr_y * cr_w + x * crc[1] // hmax] - 128
                rr = yv + ((91881 * crv + 32768) >> 16)
                gg = yv - ((22554 * cbv + 46802 * crv + 32768) >> 16)
                bb = yv + ((116130 * cbv + 32768) >> 16)
                for v in (rr, gg, bb):
                    total += 0 if v < 0 else (255 if v > 255 else v)
    return (w, h, total)


def decode_jpeg(b):
    w, h, total = _jpeg_sum(b)
    return ("image/jpeg", w, h, 3, 0, w * h, total / (w * h * 3))


# ——— PNG (twin of graft.ext.Png.decode) ———
# python's zlib does the DEFLATE half, as the JDK's zlib does on the
# JVM side; agreement here cross-checks the chunk walk, the filter math
# and the color expansion.

def decode_png(b):
    import zlib
    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    w = h = -1
    color_type = -1
    palette = None
    idat = bytearray()
    seen_iend = False
    while not seen_iend:
        if pos + 8 > len(b):
            raise ValueError("truncated PNG: no IEND chunk")
        clen, = struct.unpack_from(">I", b, pos)
        if pos + 12 + clen > len(b):
            raise ValueError("truncated PNG chunk")
        ctype = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + clen]
        crc, = struct.unpack_from(">I", b, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError("PNG chunk CRC mismatch")
        if ctype == b"IHDR":
            if clen != 13:
                raise ValueError("corrupt PNG: bad IHDR length")
            w, h = struct.unpack_from(">II", data, 0)
            if w <= 0 or h <= 0 or w * h > (64 << 20):
                raise ValueError("unsupported PNG dimensions")
            bit_depth, color_type, comp, filt, inter = data[8:13]
            if bit_depth != 8 or color_type not in (0, 2, 3, 4, 6):
                raise ValueError("unsupported PNG depth/color type")
            if comp != 0 or filt != 0 or inter != 0:
                raise ValueError("unsupported PNG compression/interlace")
        elif ctype == b"PLTE":
            if clen % 3 != 0 or clen > 768:
                raise ValueError("corrupt PNG PLTE")
            palette = data
        elif ctype == b"IDAT":
            if w <= 0:
                raise ValueError("corrupt PNG: IDAT before IHDR")
            idat.extend(data)
        elif ctype == b"IEND":
            seen_iend = True
        elif not (ctype[0] & 0x20):
            raise ValueError("unsupported critical PNG chunk %r" % ctype)
        pos += 12 + clen
    if w <= 0:
        raise ValueError("corrupt PNG: missing IHDR")
    if color_type == 3 and palette is None:
        raise ValueError("corrupt PNG: palette image without PLTE")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != (stride + 1) * h:
        raise ValueError("corrupt PNG: wrong inflated length")
    px = bytearray(stride * h)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        src = y * (stride + 1) + 1
        dst = y * stride
        if ft == 0:
            px[dst:dst + stride] = raw[src:src + stride]
        elif ft == 1:
            for x in range(stride):
                a = px[dst + x - channels] if x >= channels else 0
                px[dst + x] = (raw[src + x] + a) & 0xFF
        elif ft == 2:
            for x in range(stride):
                up = px[dst - stride + x] if y > 0 else 0
                px[dst + x] = (raw[src + x] + up) & 0xFF
        elif ft == 3:
            for x in range(stride):
                a = px[dst + x - channels] if x >= channels else 0
                up = px[dst - stride + x] if y > 0 else 0
                px[dst + x] = (raw[src + x] + ((a + up) >> 1)) & 0xFF
        elif ft == 4:
            for x in range(stride):
                a = px[dst + x - channels] if x >= channels else 0
                up = px[dst - stride + x] if y > 0 else 0
                c = (px[dst - stride + x - channels]
                     if y > 0 and x >= channels else 0)
                pp = a + up - c
                pa, pb, pc = abs(pp - a), abs(pp - up), abs(pp - c)
                pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                px[dst + x] = (raw[src + x] + pred) & 0xFF
        else:
            raise ValueError("corrupt PNG: filter type %d" % ft)
    # expand to RGB and take the integer-exact byte sum
    n = w * h
    total = 0
    if color_type == 0:
        total = 3 * sum(px)
    elif color_type == 2:
        total = sum(px)
    elif color_type == 3:
        n_entries = len(palette) // 3
        for p in range(n):
            idx = px[p]
            if idx >= n_entries:
                raise ValueError("corrupt PNG: palette index out of range")
            total += (palette[3 * idx] + palette[3 * idx + 1]
                      + palette[3 * idx + 2])
    elif color_type == 4:
        for p in range(n):
            total += 3 * px[2 * p]  # alpha dropped
    else:  # 6
        for p in range(n):
            total += px[4 * p] + px[4 * p + 1] + px[4 * p + 2]
    return ("image/png", w, h, 3, 0, n, total / (n * 3))


# ——— GIF (twin of graft.ext.Gif.decode) ———
# pure-python variable-width LZW with the same early-change width
# growth, KwKwK handling, 4096 cap with deferred-clear tolerance, and
# 4-pass deinterlacing — bit-for-bit with the JVM decoder.

def _gif_lzw(data, min_code, expected):
    clear = 1 << min_code
    eoi = clear + 1
    prefix = [0] * 4096
    suffix = bytearray(4096)
    out = bytearray(expected)
    n = 0
    width = min_code + 1
    nxt = clear + 2
    prev = -1
    bit_pos = 0
    total_bits = len(data) * 8
    while n < expected:
        if bit_pos + width > total_bits:
            raise ValueError("truncated GIF LZW stream")
        code = 0
        for i in range(width):
            bp = bit_pos + i
            code |= ((data[bp >> 3] >> (bp & 7)) & 1) << i
        bit_pos += width
        if code == clear:
            width = min_code + 1
            nxt = clear + 2
            prev = -1
        elif code == eoi:
            break
        else:
            if not (code < nxt or (code == nxt and prev >= 0)):
                raise ValueError("corrupt GIF: bad LZW code")
            stack = []
            c = code
            kwk = code == nxt
            if kwk:
                c = prev
                stack.append(0)  # patched with first byte below
            while c >= clear + 2:
                stack.append(suffix[c])
                c = prefix[c]
            if c >= clear:
                raise ValueError("corrupt GIF: LZW chain")
            first = c
            if kwk:
                stack[0] = first
            if n + 1 + len(stack) > expected:
                raise ValueError("corrupt GIF: LZW output exceeds frame")
            out[n] = first
            n += 1
            for i in range(len(stack) - 1, -1, -1):
                out[n] = stack[i]
                n += 1
            if prev >= 0 and nxt < 4096:
                prefix[nxt] = prev
                suffix[nxt] = first
                nxt += 1
                # STANDARD GIF width growth (verified vs Java ImageIO;
                # see Gif.scala) — widen when the stored count reaches
                # 2^width so the NEXT code reads wider
                if nxt == (1 << width) and width < 12:
                    width += 1
            prev = code
    if n != expected:
        raise ValueError("corrupt GIF: LZW decoded %d of %d" % (n, expected))
    return bytes(out)


def decode_gif(b):
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h = struct.unpack_from("<HH", b, 6)
    if w <= 0 or h <= 0 or w * h > (64 << 20):
        raise ValueError("unsupported GIF dimensions")
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        nc = 2 << (packed & 7)
        gct = b[pos:pos + 3 * nc]
        if len(gct) < 3 * nc:
            raise ValueError("truncated GIF global color table")
        pos += 3 * nc
    total = 0
    n_px_bytes = 0
    n_frames = 0
    agg_px = 0  # cross-frame pixel budget, mirrors Gif.scala totalPixels
    while True:
        if pos >= len(b):
            raise ValueError("truncated GIF: no trailer")
        block = b[pos]
        if block == 0x3B:
            break
        if block == 0x21:
            pos += 2
            while True:
                if pos >= len(b):
                    raise ValueError("truncated GIF extension")
                blen = b[pos]
                pos += 1 + blen
                if blen == 0:
                    break
        elif block == 0x2C:
            if pos + 10 > len(b):
                raise ValueError("truncated GIF image descriptor")
            fw, fh = struct.unpack_from("<HH", b, pos + 5)
            fp = b[pos + 9]
            interlaced = bool(fp & 0x40)
            pos += 10
            ct = gct
            if fp & 0x80:
                nc = 2 << (fp & 7)
                ct = b[pos:pos + 3 * nc]
                if len(ct) < 3 * nc:
                    raise ValueError("truncated GIF local color table")
                pos += 3 * nc
            if ct is None:
                raise ValueError("corrupt GIF: frame without color table")
            if fw <= 0 or fh <= 0 or fw * fh > (64 << 20):
                raise ValueError("unsupported GIF frame")
            # AGGREGATE budget across frames (JVM twin parity: a
            # multi-frame GIF under the per-frame cap but over 64 MP
            # total must error here exactly like Gif.decode does)
            agg_px += fw * fh
            if agg_px > (64 << 20):
                raise ValueError("unreasonable GIF: frames total > 64 MP")
            min_code = b[pos]
            pos += 1
            if not (2 <= min_code <= 8):
                raise ValueError("corrupt GIF: LZW min code size")
            data = bytearray()
            while True:
                if pos >= len(b):
                    raise ValueError("truncated GIF image sub-blocks")
                blen = b[pos]
                if pos + 1 + blen > len(b):
                    raise ValueError("truncated GIF image sub-blocks")
                data.extend(b[pos + 1:pos + 1 + blen])
                pos += 1 + blen
                if blen == 0:
                    break
            idx = _gif_lzw(bytes(data), min_code, fw * fh)
            n_colors = len(ct) // 3
            # the byte MEAN is row-permutation-invariant, so the
            # deinterlace mapping never changes it — palette lookup only
            for ci in idx:
                if ci >= n_colors:
                    raise ValueError("corrupt GIF: color index range")
                total += ct[3 * ci] + ct[3 * ci + 1] + ct[3 * ci + 2]
            n_px_bytes += fw * fh * 3
            n_frames += 1
        else:
            raise ValueError("corrupt GIF: unknown block 0x%02X" % block)
    if n_frames == 0:
        raise ValueError("corrupt GIF: no image frames")
    mean = 0.0 if n_px_bytes == 0 else total / n_px_bytes
    return ("image/gif", w, h, 3, 0, n_frames, mean)


def decode_one(b):
    b = b if b is not None else b""
    if len(b) >= 54 and b[:2] == b"BM":
        return decode_bmp(b)
    if len(b) >= 3 and b[:2] == b"P6" and b[2:3] in b" \n\r\t":
        return decode_ppm(b)
    if len(b) >= 3 and b[:3] == b"\xff\xd8\xff":
        return decode_jpeg(b)
    if len(b) >= 8 and b[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(b)
    if len(b) >= 6 and b[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(b)
    if (len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE"):
        return decode_wav(b)
    if (len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI "):
        return decode_avi(b)
    n = len(b)
    mean = 0.0 if n == 0 else int(np.frombuffer(b, dtype=np.uint8)
                                  .astype(np.int64).sum()) / n
    return ("application/octet-stream", 0, 0, 0, 0, n, mean)


def main():
    data = sys.stdin.buffer.read()
    out_schema = pa.schema([
        ("media_id", pa.int64()),
        ("format", pa.string()),
        ("width", pa.int32()),
        ("height", pa.int32()),
        ("channels", pa.int32()),
        ("sample_rate", pa.int32()),
        ("n_samples", pa.int64()),
        ("mean_value", pa.float64())])
    sink = pa.BufferOutputStream()
    with pa.ipc.open_stream(pa.BufferReader(data)) as reader, \
            pa.ipc.new_stream(sink, out_schema) as writer:
        for batch in reader:
            rows = batch.to_pylist()
            feats = [decode_one(r["payload"]) for r in rows]
            writer.write_batch(pa.record_batch([
                pa.array([r["media_id"] for r in rows], pa.int64()),
                pa.array([f[0] for f in feats], pa.string()),
                pa.array([f[1] for f in feats], pa.int32()),
                pa.array([f[2] for f in feats], pa.int32()),
                pa.array([f[3] for f in feats], pa.int32()),
                pa.array([f[4] for f in feats], pa.int32()),
                pa.array([f[5] for f in feats], pa.int64()),
                pa.array([f[6] for f in feats], pa.float64())],
                schema=out_schema))
    sys.stdout.buffer.write(sink.getvalue().to_pybytes())


if __name__ == "__main__":
    main()
