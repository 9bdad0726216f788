"""Multimodal (image/audio/video) column handling for training-data
pipelines: opaque ``binary`` payloads + typed metadata, with decode /
feature-extraction / frame-sampling as Arrow-batched ``mapInPandas``
stages.

Each kernel carries BOTH code paths:

* a REAL decoder, used automatically when available — and EVERY
  modality has mainstream formats needing NO dependency at all:
  PNG decodes pure-stdlib (zlib + scanline unfiltering,
  :func:`decode_png_stdlib`), BASELINE **and PROGRESSIVE** JPEG
  decode stdlib+NumPy (markers + Huffman + IDCT; multi-scan spectral
  selection / successive approximation per T.81 G.2 — round 6,
  :func:`decode_jpeg_stdlib`), GIF decodes pure-stdlib (variable-width
  LZW — round 6, :func:`decode_gif_stdlib`), BMP decodes pure-stdlib
  (:func:`decode_bmp_stdlib`), RIFF/WAVE PCM, **IMA-ADPCM, and G.711
  µ-law/A-law** decode pure-stdlib (``wave`` + struct + the reference
  codec expansions, :func:`decode_wav_features`), **FLAC decodes
  pure-stdlib** (framing + rice + integer LPC — round 6,
  :func:`decode_flac_features`), and YUV4MPEG2 video parses
  pure-stdlib (:func:`sample_frames_y4m`); remaining formats
  (arithmetic-coded JPEG, WebP, psychoacoustic lossy audio,
  compressed video) use PIL for images, soundfile for audio, the
  ffmpeg binary for video frames — gated per modality below;
* a DETERMINISTIC STUB (seeded from the payload bytes, clearly marked)
  that keeps the distributed plumbing — schema, Arrow batching,
  partition behavior, UDF signatures — exercised end to end in
  environments without media libraries (this container has none).

``use_real=None`` (default) auto-selects per payload; ``True``
forces real decoding (the stdlib formats always work; other formats
raise executor-side when their dependency is absent); ``False``
forces the stub. Tests for the library-backed real paths self-skip
when the libraries are missing, so the stub→real swap is zero-risk
the day the environment gains them; the stdlib paths are tested
unconditionally.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # pragma: no cover - depends on environment
    from PIL import Image  # noqa: F401

    PIL_AVAILABLE = True
except Exception:  # pragma: no cover
    PIL_AVAILABLE = False

try:  # pragma: no cover - depends on environment
    import soundfile  # noqa: F401

    SOUNDFILE_AVAILABLE = True
except Exception:  # pragma: no cover
    SOUNDFILE_AVAILABLE = False

FFMPEG_AVAILABLE = (
    shutil.which("ffmpeg") is not None and shutil.which("ffprobe") is not None
)


#: PNG signature — payloads starting with this route through the
#: pure-stdlib decoder below, PIL or not.
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def decode_png_stdlib(payload: bytes) -> tuple[int, int, float]:
    """Pure-stdlib PNG decode → (width, height, mean_intensity).

    PNG is zlib + per-scanline filter arithmetic, so this container
    can run a REAL image decode without PIL: parse chunks, inflate the
    IDAT stream, undo the five scanline filters (None/Sub/Up/Average/
    Paeth, RFC 2083 §6), then average luma. Grayscale conversion uses
    Pillow's exact ITU-R 601-2 integer transform
    ``(R*19595 + G*38470 + B*7471 + 0x8000) >> 16`` so the PIL path
    and this path agree bit-for-bit on the histogram (cross-checked by
    a self-skipping test when PIL is present).

    Supports the mainstream encoder output: 8-bit depth, color types
    0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA),
    non-interlaced. Anything else raises ValueError (JPEG and exotic
    PNGs stay behind PIL). Per-byte Python unfiltering is the cost of
    zero dependencies — fine for feature extraction on thumbnails;
    swap in PIL for bulk full-resolution decoding.
    """
    w, h, rows = _png_luma_rows(payload)
    # streaming sum — one scanline's luma list alive at a time, never
    # the full O(w·h) grid (a 12-MP photo would box ~12M ints)
    total = sum(sum(row) for row in rows)
    mean = round(total / (w * h) / 255.0, 6)
    return int(w), int(h), mean


def decode_png_luma(payload: bytes) -> tuple[int, int, list[list[int]]]:
    """:func:`decode_png_stdlib`'s decode core materialized as the full
    integer luma GRID (row-major, Rec.601 ints in [0, 255]) — the input
    the perceptual-hash kernels (:func:`dhash64_from_luma` /
    :func:`ahash64_from_luma`) consume. The mean path streams the same
    per-row integers without materializing (see decode_png_stdlib)."""
    w, h, rows = _png_luma_rows(payload)
    return w, h, list(rows)


def _png_luma_rows(payload: bytes):
    """Shared PNG decode: parse chunks, inflate, unfilter, and yield
    one Rec.601 luma row (list of ints) per scanline — returns
    ``(w, h, row_iterator)`` so the mean path can stream while the
    grid path materializes."""
    import struct
    import zlib

    if bytes(payload[:8]) != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    idat: list[bytes] = []
    plte = b""
    n = len(payload)
    while pos + 8 <= n:
        ln, typ = struct.unpack(">I4s", payload[pos : pos + 8])
        data = bytes(payload[pos + 8 : pos + 8 + ln])
        pos += 12 + ln  # length + type + data + CRC
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("malformed PNG: missing IHDR/IDAT")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype not in (0, 2, 3, 4, 6):
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={ctype}, "
            f"interlace={interlace}); use the PIL path"
        )
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("malformed PNG: truncated scanline data")
    bpp = channels

    def rows():
        prev = bytearray(stride)
        p = 0
        for _row in range(h):
            f = raw[p]
            line = bytearray(raw[p + 1 : p + 1 + stride])
            p += 1 + stride
            yield _unfilter_and_luma(f, line, prev)
            prev = line

    def _unfilter_and_luma(f: int, line: bytearray, prev: bytearray) -> list[int]:
        if f == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"malformed PNG: unknown filter {f}")
        if ctype == 0:
            return list(line)
        if ctype == 4:
            return list(line[0::2])
        if ctype == 3:
            return [
                (
                    plte[3 * idx] * 19595
                    + plte[3 * idx + 1] * 38470
                    + plte[3 * idx + 2] * 7471
                    + 0x8000
                )
                >> 16
                for idx in line
            ]
        return [  # 2 / 6
            (
                line[i] * 19595
                + line[i + 1] * 38470
                + line[i + 2] * 7471
                + 0x8000
            )
            >> 16
            for i in range(0, stride, channels)
        ]

    return int(w), int(h), rows()


#: JPEG/JFIF signature (SOI + first marker byte) — payloads starting
#: with it route through the pure-stdlib baseline decoder below.
JPEG_MAGIC = b"\xff\xd8\xff"

#: JPEG zigzag order: ZIGZAG[k] = (row, col) of the k-th coefficient.
_JPEG_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]


def _dct_matrix():
    """Orthonormal 8×8 DCT-II matrix C: the JPEG FDCT is X = C·B·Cᵀ and
    the IDCT is B = Cᵀ·X·C (ITU T.81 A.3.3 in orthonormal form)."""
    import math

    import numpy as np

    C = np.empty((8, 8))
    for u in range(8):
        cu = math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8)
        for j in range(8):
            C[u, j] = cu * math.cos((2 * j + 1) * u * math.pi / 16)
    return C


class _JpegBits:
    """MSB-first bit reader over entropy-coded JPEG data: 0xFF00 byte
    stuffing is undone, and a non-stuffing marker ends the stream (the
    reader then yields zero bits, per T.81 F.2.2.5 padding)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.p = pos
        self.acc = 0
        self.n = 0
        self.at_marker = False

    def read1(self) -> int:
        if self.n == 0:
            if self.at_marker or self.p >= len(self.d):
                return 0
            c = self.d[self.p]
            if c == 0xFF:
                nxt = self.d[self.p + 1] if self.p + 1 < len(self.d) else 0xD9
                if nxt == 0x00:
                    self.p += 2
                else:  # a real marker: stop consuming, pad with zeros
                    self.at_marker = True
                    return 0
            else:
                self.p += 1
            self.acc = c
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read1()
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume an RSTn marker (T.81 F.2.1.3.1)."""
        self.n = 0
        self.at_marker = False
        while self.p + 1 < len(self.d):
            if self.d[self.p] == 0xFF and 0xD0 <= self.d[self.p + 1] <= 0xD7:
                self.p += 2
                return
            self.p += 1
        raise ValueError("malformed JPEG: missing restart marker")


def _huff_decode(bits: _JpegBits, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | bits.read1()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("malformed JPEG: invalid huffman code")


def _receive_extend(bits: _JpegBits, s: int) -> int:
    if s == 0:
        return 0
    v = bits.read(s)
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _prog_dc_scan(bits, huff, scan, frame, coefs, Al, first, restart_interval):
    """Progressive DC scan (T.81 G.2): interleaved (MCU order, all
    scan components) or single-component (the component's own block
    grid). ``first`` (Ah == 0) Huffman-decodes shifted DC diffs; a
    refinement scan reads ONE bit per block ORed in at bit Al."""
    h, w, comps = frame
    by_cid = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    dc_pred = {cid: 0 for cid, _, _ in scan}
    since = 0

    def unit_blocks():
        """Yield (cid, tdc, by, bx) per restart unit (MCU or block)."""
        if len(scan) > 1:  # interleaved: MCU order
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for my in range(mcuy):
                for mx in range(mcux):
                    unit = []
                    for cid, tdc, _ in scan:
                        _, hs, vs, _ = by_cid[cid]
                        for v in range(vs):
                            for u in range(hs):
                                unit.append((cid, tdc, my * vs + v, mx * hs + u))
                    yield unit
        else:
            cid, tdc, _ = scan[0]
            _, hs, vs, _ = by_cid[cid]
            wb = -(-(-(-w * hs // hmax)) // 8)
            hb = -(-(-(-h * vs // vmax)) // 8)
            for by in range(hb):
                for bx in range(wb):
                    yield [(cid, tdc, by, bx)]

    for unit in unit_blocks():
        if restart_interval and since == restart_interval:
            bits.sync_restart()
            dc_pred = {cid: 0 for cid, _, _ in scan}
            since = 0
        for cid, tdc, by, bx in unit:
            blk = coefs[cid][by][bx]
            if first:
                s = _huff_decode(bits, huff[(0, tdc)])
                diff = _receive_extend(bits, s)
                dc_pred[cid] += diff
                blk[0] = dc_pred[cid] << Al
            else:
                if bits.read1():
                    blk[0] = int(blk[0]) | (1 << Al)
        since += 1


def _prog_ac_scan(bits, huff, scan, frame, coefs, Ss, Se, Ah, Al, restart_interval):
    """Progressive AC scan (single component by definition, T.81
    G.1.1.1.1): first pass (Ah == 0) decodes run/size symbols with
    EOB-run extension; refinement follows the libjpeg
    decode_mcu_AC_refine discipline — a correction bit for every
    nonzero-history coefficient visited, newly-nonzero coefficients
    inserted as ±1<<Al, EOB runs carrying the remaining correction
    bits."""
    h, w, comps = frame
    by_cid = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    cid, _, tac = scan[0]
    table = huff[(1, tac)]
    _, hs, vs, _ = by_cid[cid]
    wb = -(-(-(-w * hs // hmax)) // 8)
    hb = -(-(-(-h * vs // vmax)) // 8)
    eobrun = 0
    p1, m1 = 1 << Al, -(1 << Al)
    since = 0
    for by in range(hb):
        for bx in range(wb):
            if restart_interval and since == restart_interval:
                bits.sync_restart()
                eobrun = 0
                since = 0
            since += 1
            blk = coefs[cid][by][bx]
            if Ah == 0:  # first pass for this band
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = Ss
                while k <= Se:
                    rs = _huff_decode(bits, table)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += bits.read(r)
                            break
                        k += 16
                    else:
                        k += r
                        if k > Se:
                            raise ValueError("malformed JPEG: AC band overflow")
                        blk[k] = _receive_extend(bits, s) * (1 << Al)
                        k += 1
            else:  # refinement
                k = Ss
                if eobrun == 0:
                    while k <= Se:
                        rs = _huff_decode(bits, table)
                        r, s = rs >> 4, rs & 15
                        val = 0
                        if s == 0:
                            if r != 15:
                                eobrun = 1 << r
                                if r:
                                    eobrun += bits.read(r)
                                break
                            # r == 15: skip over 16 zero-history coefs
                        else:
                            val = p1 if bits.read1() else m1
                        while k <= Se:
                            c = int(blk[k])
                            if c != 0:
                                if bits.read1() and (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if s and k <= Se:
                            blk[k] = val
                        k += 1
                if eobrun > 0:
                    while k <= Se:
                        c = int(blk[k])
                        if c != 0:
                            if bits.read1() and (c & p1) == 0:
                                blk[k] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1


def decode_jpeg_stdlib(payload: bytes) -> tuple[int, int, float]:
    """Pure-stdlib(+NumPy) JPEG decode → (width, height,
    mean_intensity of the luma plane) — BASELINE and PROGRESSIVE.

    JPEG is markers + canonical Huffman + dequantization + zigzag +
    8×8 IDCT — all expressible with ``struct`` and one NumPy matrix
    product per block, so this container runs a REAL JPEG decode
    without PIL (the PNG/WAV/Y4M story extended to the one remaining
    mainstream image format). Supports: SOF0/SOF1 (sequential DCT,
    8-bit) decoded scan-streaming, and — round 6 — SOF2 PROGRESSIVE:
    multi-scan spectral selection + successive approximation per T.81
    G.2 (interleaved/non-interleaved DC scans with point transform and
    refinement bits, per-band AC scans with EOB-run extension, and the
    libjpeg-discipline AC refinement with correction bits), coefficients
    accumulated across scans and IDCT'd at EOI. Any component count
    and sampling factors (4:4:4 / 4:2:2 / 4:2:0 …), 8/16-bit DQT,
    multiple DHT segments, DRI restart intervals in both modes.
    Arithmetic coding and lossless/hierarchical SOFs raise ValueError
    (those stay behind PIL).

    ``mean_intensity`` averages the Y component directly (JPEG stores
    YCbCr — luma needs no color convert), cropped to the true image
    rectangle before averaging so padded edge MCUs do not bias it.
    In the baseline path non-luma components are entropy-decoded to
    keep the bit stream in sync but skip the IDCT; the progressive
    path must buffer all components' coefficients anyway (scans
    interleave arbitrarily) but IDCTs only luma. Per-bit Python decode
    is the cost of zero dependencies — fine for thumbnail features;
    use PIL for bulk full-resolution work.
    """
    import struct

    import numpy as np

    data = bytes(payload)
    if data[:3] != JPEG_MAGIC:
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    progressive = False
    coef_store: dict[int, "np.ndarray"] = {}
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("malformed JPEG: marker desync")
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        ln = struct.unpack(">H", data[pos : pos + 2])[0]
        seg = data[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT
            s = 0
            while s < len(seg):
                pq, tq = seg[s] >> 4, seg[s] & 15
                s += 1
                if pq == 0:
                    qt[tq] = list(seg[s : s + 64])
                    s += 64
                else:
                    qt[tq] = [
                        struct.unpack(">H", seg[s + 2 * i : s + 2 * i + 2])[0]
                        for i in range(64)
                    ]
                    s += 128
        elif marker in (0xC0, 0xC1):  # SOF0/1 — baseline sequential
            h, w, nc = (
                struct.unpack(">H", seg[1:3])[0],
                struct.unpack(">H", seg[3:5])[0],
                seg[5],
            )
            comps = [
                (seg[6 + 3 * i], seg[7 + 3 * i] >> 4, seg[7 + 3 * i] & 15,
                 seg[8 + 3 * i])
                for i in range(nc)
            ]
            frame = (h, w, comps)
        elif marker == 0xC2:  # SOF2 — progressive DCT
            import numpy as np

            h, w, nc = (
                struct.unpack(">H", seg[1:3])[0],
                struct.unpack(">H", seg[3:5])[0],
                seg[5],
            )
            comps = [
                (seg[6 + 3 * i], seg[7 + 3 * i] >> 4, seg[7 + 3 * i] & 15,
                 seg[8 + 3 * i])
                for i in range(nc)
            ]
            frame = (h, w, comps)
            progressive = True
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            for cid, hs, vs, _tq in comps:
                # MCU-padded block grid covers interleaved DC scans;
                # non-interleaved scans address the top-left subgrid.
                # Coefficients live in ZIGZAG index space (like the
                # baseline path's coef[64]).
                coef_store[cid] = np.zeros(
                    (mcuy * vs, mcux * hs, 64), dtype=np.int32
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG (arithmetic/lossless/hierarchical SOF); "
                "use the PIL path"
            )
        elif marker == 0xC4:  # DHT
            s = 0
            while s < len(seg):
                tc, th = seg[s] >> 4, seg[s] & 15
                s += 1
                counts = list(seg[s : s + 16])
                s += 16
                symbols = list(seg[s : s + sum(counts)])
                s += sum(counts)
                table: dict[tuple[int, int], int] = {}
                code, k = 0, 0
                for bl in range(1, 17):
                    for _ in range(counts[bl - 1]):
                        table[(bl, code)] = symbols[k]
                        k += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — baseline: decode and finish;
            # progressive: accumulate this scan's coefficients and
            # continue the marker loop
            if frame is None:
                raise ValueError("malformed JPEG: SOS before SOF")
            ns = seg[0]
            scan = [
                (seg[1 + 2 * i], seg[2 + 2 * i] >> 4, seg[2 + 2 * i] & 15)
                for i in range(ns)
            ]
            if progressive:
                Ss, Se = seg[1 + 2 * ns], seg[2 + 2 * ns]
                ah_al = seg[3 + 2 * ns]
                Ah, Al = ah_al >> 4, ah_al & 15
                bits = _JpegBits(data, pos)
                if Ss == 0:
                    if Se != 0:
                        raise ValueError("malformed JPEG: DC scan with Se != 0")
                    _prog_dc_scan(
                        bits, huff, scan, frame, coef_store, Al, Ah == 0,
                        restart_interval,
                    )
                else:
                    if ns != 1:
                        raise ValueError(
                            "malformed JPEG: interleaved progressive AC scan"
                        )
                    _prog_ac_scan(
                        bits, huff, scan, frame, coef_store, Ss, Se, Ah, Al,
                        restart_interval,
                    )
                # skip any remaining entropy bytes (incl. stuffed 0xFF00
                # and RSTn) up to the next true marker
                p = bits.p
                while p + 1 < len(data) and not (
                    data[p] == 0xFF
                    and data[p + 1] != 0x00
                    and not (0xD0 <= data[p + 1] <= 0xD7)
                ):
                    p += 1
                pos = p
                continue
            h, w, comps = frame
            by_cid = {c[0]: c for c in comps}
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            C = _dct_matrix()
            luma_cid = scan[0][0]  # first scan component = Y by convention
            y_hs, y_vs = by_cid[luma_cid][1], by_cid[luma_cid][2]
            plane = np.zeros((mcuy * y_vs * 8, mcux * y_hs * 8))
            bits = _JpegBits(data, pos)
            dc_pred = {cid: 0 for cid, _, _ in scan}
            since_restart = 0
            for my in range(mcuy):
                for mx in range(mcux):
                    if restart_interval and since_restart == restart_interval:
                        bits.sync_restart()
                        dc_pred = {cid: 0 for cid, _, _ in scan}
                        since_restart = 0
                    for cid, tdc, tac in scan:
                        _, hs, vs, tq = by_cid[cid]
                        for v in range(vs):
                            for u in range(hs):
                                ssym = _huff_decode(bits, huff[(0, tdc)])
                                diff = _receive_extend(bits, ssym)
                                dc_pred[cid] += diff
                                coef = [0] * 64
                                coef[0] = dc_pred[cid]
                                k = 1
                                while k < 64:
                                    rs = _huff_decode(bits, huff[(1, tac)])
                                    r, sz = rs >> 4, rs & 15
                                    if sz == 0:
                                        if r == 15:
                                            k += 16
                                            continue
                                        break  # EOB
                                    k += r
                                    if k > 63:
                                        raise ValueError(
                                            "malformed JPEG: AC index overflow"
                                        )
                                    coef[k] = _receive_extend(bits, sz)
                                    k += 1
                                if cid != luma_cid:
                                    continue  # stream stays in sync; skip IDCT
                                q = qt[tq]
                                block = np.zeros((8, 8))
                                for kk in range(64):
                                    if coef[kk]:
                                        r_, c_ = _JPEG_ZIGZAG[kk]
                                        block[r_, c_] = coef[kk] * q[kk]
                                pix = C.T @ block @ C + 128.0
                                py = (my * y_vs + v) * 8
                                px = (mx * y_hs + u) * 8
                                plane[py : py + 8, px : px + 8] = pix
                    since_restart += 1
            ch = -(-h * y_vs // vmax)  # true luma rectangle (ceil scale)
            cw = -(-w * y_hs // hmax)
            crop = np.clip(np.round(plane[:ch, :cw]), 0, 255)
            return int(w), int(h), round(float(crop.mean()) / 255.0, 6)
    if progressive and frame is not None and coef_store:
        # EOI reached with accumulated progressive coefficients:
        # dequantize + IDCT the luma blocks (first frame component = Y
        # by convention), crop to the true rectangle, average.
        import numpy as np

        h, w, comps = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        luma_cid, y_hs, y_vs, y_tq = comps[0]
        cw = -(-w * y_hs // hmax)
        ch = -(-h * y_vs // vmax)
        wb, hb = -(-cw // 8), -(-ch // 8)
        C = _dct_matrix()
        q = qt[y_tq]
        plane = np.zeros((hb * 8, wb * 8))
        blocks = coef_store[luma_cid]
        for by in range(hb):
            for bx in range(wb):
                coef = blocks[by][bx]
                block = np.zeros((8, 8))
                for kk in range(64):
                    if coef[kk]:
                        r_, c_ = _JPEG_ZIGZAG[kk]
                        block[r_, c_] = int(coef[kk]) * q[kk]
                pix = C.T @ block @ C + 128.0
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = pix
        crop = np.clip(np.round(plane[:ch, :cw]), 0, 255)
        return int(w), int(h), round(float(crop.mean()) / 255.0, 6)
    raise ValueError("malformed JPEG: no SOS marker")


#: BMP signature — payloads with it decode through the pure-stdlib
#: DIB parser below, PIL or not.
BMP_MAGIC = b"BM"


def decode_bmp_stdlib(payload: bytes) -> tuple[int, int, float]:
    """Pure-stdlib BMP (Windows DIB) decode → (width, height,
    mean_intensity) — uncompressed 8-bit-paletted and 24/32-bit
    true-color bitmaps, bottom-up or top-down rows, 4-byte row
    padding. Mean uses the same integer Rec.601 luma as the GIF path.
    Compressed BMPs (RLE/bitfields) raise — PIL stays the route."""
    import struct

    data = bytes(payload)
    if data[:2] != BMP_MAGIC:
        raise ValueError("not a BMP payload")
    pix_off = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size < 40:
        raise ValueError("unsupported BMP header (pre-BITMAPINFOHEADER)")
    w, h_raw = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    compression = struct.unpack_from("<I", data, 30)[0]
    if compression not in (0, 3) or bpp not in (8, 24, 32):
        raise ValueError(
            f"unsupported BMP (compression {compression}, {bpp} bpp); use PIL"
        )
    h = abs(h_raw)
    row_bytes = ((w * bpp + 31) // 32) * 4
    pal = None
    if bpp == 8:
        n_colors = struct.unpack_from("<I", data, 46)[0] or 256
        pal_off = 14 + hdr_size
        pal = data[pal_off : pal_off + 4 * n_colors]  # BGRX entries
        luma_tab = [
            (299 * pal[4 * i + 2] + 587 * pal[4 * i + 1] + 114 * pal[4 * i]
             + 500) // 1000
            for i in range(len(pal) // 4)
        ]
    total = 0
    for row in range(h):  # mean is row-order-invariant; no flip needed
        base = pix_off + row * row_bytes
        line = data[base : base + row_bytes]
        if len(line) < row_bytes:
            raise ValueError("malformed BMP: truncated pixel data")
        if bpp == 8:
            total += sum(luma_tab[p] for p in line[:w])
        else:
            step = bpp // 8
            for x in range(w):
                b, g, r = line[x * step : x * step + 3]
                total += (299 * r + 587 * g + 114 * b + 500) // 1000
    return int(w), int(h), round(total / (w * h) / 255.0, 6)


#: GIF signatures — payloads with either decode through the
#: pure-stdlib LZW decoder below, PIL or not.
GIF_MAGICS = (b"GIF87a", b"GIF89a")


def decode_gif_stdlib(payload: bytes) -> tuple[int, int, float]:
    """Pure-stdlib GIF decode → (width, height, mean_intensity of the
    first frame) — the third real stdlib image format (round 6). GIF
    is a palette + variable-width LSB-first LZW stream: header /
    logical screen descriptor, global+local color tables, extension
    blocks skipped, first image descriptor decoded (interlace is a
    row-placement permutation, which a mean is invariant to). Mean
    uses integer Rec.601 luma of the palette
    (``(299R + 587G + 114B + 500) // 1000``), normalized /255 and
    rounded 6 dp — deterministic across platforms."""
    data = bytes(payload)
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(data[6:8], "little")
    sh = int.from_bytes(data[8:10], "little")
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = data[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"malformed GIF: unexpected block 0x{b:02x}")
        # image descriptor
        iw = int.from_bytes(data[pos + 4 : pos + 6], "little")
        ih = int.from_bytes(data[pos + 6 : pos + 8], "little")
        iflags = data[pos + 8]
        pos += 9
        pal = gct
        if iflags & 0x80:
            n = 2 << (iflags & 7)
            pal = data[pos : pos + 3 * n]
            pos += 3 * n
        if pal is None:
            raise ValueError("malformed GIF: no color table")
        mcs = data[pos]
        pos += 1
        comp = bytearray()
        while pos < len(data) and data[pos]:
            ln = data[pos]
            comp += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1  # block terminator
        # variable-width LSB-first LZW. Width schedule follows the
        # giflib discipline: the next-code counter advances once per
        # DATA CODE read (in lockstep with the encoder's emits), while
        # the actual table entry lags one code behind (it needs the
        # following code's first char) — growing on table length
        # instead desyncs the width by one code position.
        clear = 1 << mcs
        end = clear + 1
        width = mcs + 1
        table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
        next_code = end + 1
        acc = 0
        nbits = 0
        out = bytearray()
        prev: bytes | None = None
        for byte in comp:
            acc |= byte << nbits
            nbits += 8
            while nbits >= width:
                code = acc & ((1 << width) - 1)
                acc >>= width
                nbits -= width
                if code == clear:
                    table = [bytes([i]) for i in range(clear)] + [b"", b""]
                    next_code = end + 1
                    width = mcs + 1
                    prev = None
                    continue
                if code == end:
                    prev = None
                    nbits = 0
                    acc = 0
                    break
                if prev is None:
                    entry = table[code]
                else:
                    if code < len(table):
                        entry = table[code]
                        table.append(prev + entry[:1])
                    elif code == len(table):  # KwKwK case
                        entry = prev + prev[:1]
                        table.append(entry)
                    else:
                        raise ValueError("malformed GIF: LZW code out of range")
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
                out += entry
                prev = entry
                if len(out) >= iw * ih:
                    break
            if len(out) >= iw * ih:
                break
        if len(out) < iw * ih:
            raise ValueError("malformed GIF: short pixel stream")
        luma = [
            (299 * pal[3 * i] + 587 * pal[3 * i + 1] + 114 * pal[3 * i + 2] + 500)
            // 1000
            for i in range(len(pal) // 3)
        ]
        total = sum(luma[p] for p in out[: iw * ih])
        return int(sw or iw), int(sh or ih), round(total / (iw * ih) / 255.0, 6)
    raise ValueError("malformed GIF: no image descriptor")


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach an opaque binary payload column + metadata struct.

    Here the payload is the utf-8 encoding of the text column (the
    test corpus has no real media); in production this is the raw
    image/audio bytes read from object storage.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("image/fake").alias("mime"),
            F.octet_length(F.col(text_col)).alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
        ),
    )


def decode_image_features(
    df: DataFrame, id_col: str = "doc_id", use_real: bool | None = None
) -> DataFrame:
    """Decode each payload and emit image features (width, height,
    mean intensity in [0, 1]).

    Real path: PNG payloads decode via the pure-stdlib
    :func:`decode_png_stdlib` — no library needed, this container runs
    it for real; other formats (JPEG, …) go through PIL. Stub path:
    deterministic pseudo-features from the payload hash. Either way
    the distributed shape is identical — Arrow batches in, one feature
    row per image out, decode running where the bytes live.

    Dispatch: ``use_real=False`` → stub for every payload (the
    registered queries pin this — their payloads are synthetic text).
    ``use_real=True`` → real decoding required: PNG always works;
    a non-PNG payload without PIL raises executor-side. ``None`` →
    per-payload auto: PNG real, others PIL-if-available else stub.
    """
    import hashlib

    import pandas as pd

    if use_real and not PIL_AVAILABLE:
        # PNG still decodes without PIL; fail fast only for the
        # formats that genuinely need it, at decode time below
        pass
    out_schema = f"{id_col} long, width int, height int, mean_intensity double"

    def _decode_pil(payload: bytes) -> tuple[int, int, float]:  # pragma: no cover - needs PIL
        import io

        from PIL import Image as _Image

        with _Image.open(io.BytesIO(payload)) as im:
            gray = im.convert("L")
            w, h = gray.size
            hist = gray.histogram()
            n = sum(hist) or 1
            mean = sum(i * c for i, c in enumerate(hist)) / n / 255.0
            return w, h, round(mean, 6)

    def _decode_stub(payload: bytes) -> tuple[int, int, float]:
        h = hashlib.sha256(payload).digest()
        width = 64 + h[0] % 192
        height = 64 + h[1] % 192
        mean_intensity = round(sum(h[2:10]) / 8 / 255, 6)
        return width, height, mean_intensity

    def decode(payload: bytes) -> tuple[int, int, float]:
        if use_real is False:
            return _decode_stub(payload)
        if bytes(payload[:8]) == PNG_MAGIC:
            return decode_png_stdlib(payload)
        if bytes(payload[:6]) in GIF_MAGICS and not PIL_AVAILABLE:
            return decode_gif_stdlib(payload)
        if bytes(payload[:2]) == BMP_MAGIC and not PIL_AVAILABLE:
            try:
                return decode_bmp_stdlib(payload)
            except ValueError:
                if use_real:
                    raise
                return _decode_stub(payload)
        if bytes(payload[:3]) == JPEG_MAGIC and not PIL_AVAILABLE:
            # baseline AND progressive JPEG decode stdlib-side;
            # arithmetic/lossless raise and (without PIL) fall through
            # to the stub unless use_real
            try:
                return decode_jpeg_stdlib(payload)
            except ValueError:
                if use_real:
                    raise
                return _decode_stub(payload)
        if PIL_AVAILABLE:
            return _decode_pil(payload)
        if use_real:
            raise ImportError(
                "real decode requested for a non-PNG/JPEG payload but PIL "
                "is not available (PNG and baseline/progressive JPEG "
                "decode stdlib-only; other formats need PIL)"
            )
        return _decode_stub(payload)

    def run(batches):
        for pdf in batches:
            feats = [decode(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(feats, columns=["width", "height", "mean_intensity"])
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.select(id_col, "payload").mapInPandas(run, schema=out_schema)


def encode_png_gray(pixels, w: int, h: int) -> bytes:
    """Minimal pure-stdlib grayscale PNG encoder (8-bit, color type 0,
    filter 0 scanlines) — the synthesis side of the decode round trip:
    :func:`decode_png_luma` of its output returns exactly ``pixels``
    (gray luma is the raw byte). Used to synthesize REAL image
    payloads for the perceptual-hash pipeline and its tests."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    px = bytes(pixels)
    if len(px) != w * h:
        raise ValueError(f"need {w * h} pixels, got {len(px)}")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + px[r * w : (r + 1) * w] for r in range(h))
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _box_mean_downscale(
    grid: list[list[int]], w: int, h: int, tw: int, th: int
) -> list[list[int]]:
    """Integer area-mean downscale to ``tw × th`` (floor of the box
    mean; box edges at ``floor(i·dim/target)`` — the INTER_AREA
    partition). Exact integer arithmetic: deterministic everywhere.
    Sources SMALLER than the target in a dimension produce empty
    boxes under the floor partition (x1 == x0 → division by zero);
    those boxes clamp to one source pixel — nearest-neighbor
    upsampling semantics, so a 5×5 thumbnail still hashes
    deterministically instead of crashing the decode stage."""
    out = []
    for r in range(th):
        y0 = min(r * h // th, h - 1)
        y1 = max((r + 1) * h // th, y0 + 1)
        row = []
        for c in range(tw):
            x0 = min(c * w // tw, w - 1)
            x1 = max((c + 1) * w // tw, x0 + 1)
            s = 0
            for y in range(y0, y1):
                g = grid[y]
                for x in range(x0, x1):
                    s += g[x]
            row.append(s // ((y1 - y0) * (x1 - x0)))
        out.append(row)
    return out


def _wrap_i64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash64_from_luma(grid: list[list[int]], w: int, h: int) -> int:
    """64-bit difference hash (dHash) of a luma grid: area-downscale to
    9×8 (identity when already 9×8), then bit (r, c) = 1 iff
    ``px[r][c] > px[r][c+1]`` — row-major MSB-first, returned as a
    SIGNED int64 (two's-complement wrap) so it lands in a Spark long.
    Exact integer arithmetic end to end: the same image always hashes
    identically, and a DuckDB oracle can replay every bit."""
    g = grid if (w, h) == (9, 8) else _box_mean_downscale(grid, w, h, 9, 8)
    v = 0
    for r in range(8):
        row = g[r]
        for c in range(8):
            v = (v << 1) | (1 if row[c] > row[c + 1] else 0)
    return _wrap_i64(v)


def ahash64_from_luma(grid: list[list[int]], w: int, h: int) -> int:
    """64-bit average hash (aHash): area-downscale to 8×8, bit = 1 iff
    the pixel is ≥ the 8×8 mean (compared exactly as
    ``px * 64 >= total`` — no float division). Signed int64 like
    :func:`dhash64_from_luma`."""
    g = grid if (w, h) == (8, 8) else _box_mean_downscale(grid, w, h, 8, 8)
    total = sum(sum(row) for row in g)
    v = 0
    for r in range(8):
        for c in range(8):
            v = (v << 1) | (1 if g[r][c] * 64 >= total else 0)
    return _wrap_i64(v)


#: Pixel count of the synthesized phash test images (9×8 — dHash's
#: native geometry, so the decode→hash path needs no downscale and a
#: SQL oracle can replay every bit from the md5 pixel bytes).
PHASH_SYNTH_W, PHASH_SYNTH_H = 9, 8


def synthesize_gray_png_variants(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_variants: int = 2,
) -> DataFrame:
    """Deterministic REAL-image corpus for the perceptual-hash
    pipeline: each source row yields ``n_variants`` 9×8 grayscale PNGs
    — variant 0's 72 pixels are md5 bytes of the text
    (``md5(text || ':' || k)`` chunks, k = 0..4, first 72 of 80
    bytes), and variant v ≥ 1 perturbs the single pixel at index
    ``doc_id % 72`` by ``+v (mod 256)`` — a planted near-duplicate
    ("same photo, slight re-encode"): one changed pixel flips at most
    its two adjacent dHash comparisons, so planted pairs sit at
    Hamming ≤ 2 while unrelated images sit near 32 (whp never ≤ 3).
    ``image_id = id * n_variants + variant``. The payloads are REAL
    PNGs (:func:`encode_png_gray`): the consumer must actually run the
    zlib decode path, and a byte-level PNG regression would surface as
    a value mismatch."""
    import hashlib

    import pandas as pd

    n_px = PHASH_SYNTH_W * PHASH_SYNTH_H

    def run(batches):
        for pdf in batches:
            ids, payloads = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                base = b"".join(
                    hashlib.md5(f"{text}:{k}".encode()).digest() for k in range(5)
                )[:n_px]
                hot = int(rid) % n_px
                for v in range(n_variants):
                    px = bytearray(base)
                    if v:
                        px[hot] = (px[hot] + v) % 256
                    ids.append(int(rid) * n_variants + v)
                    payloads.append(
                        encode_png_gray(px, PHASH_SYNTH_W, PHASH_SYNTH_H)
                    )
            yield pd.DataFrame({"image_id": ids, "payload": payloads})

    return df.select(id_col, text_col).mapInPandas(
        run, schema="image_id long, payload binary"
    )


def image_phash(
    df: DataFrame, id_col: str = "image_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-image perceptual hashes over Arrow batches: decode each PNG
    payload to its luma grid (REAL stdlib decode — zlib + unfilter;
    PIL handles non-PNG formats when present) and emit
    ``(id, dhash, ahash)`` as signed int64s. The downstream
    near-dup join then runs entirely JVM-side on 8-byte keys — Python
    touches each image exactly once, where the bytes live."""
    import pandas as pd

    def _luma(payload: bytes) -> tuple[int, int, list[list[int]]]:
        if bytes(payload[:8]) == PNG_MAGIC:
            return decode_png_luma(payload)
        if PIL_AVAILABLE:  # pragma: no cover - needs PIL
            import io

            from PIL import Image as _Image

            with _Image.open(io.BytesIO(payload)) as im:
                gray = im.convert("L")
                w, h = gray.size
                data = list(gray.getdata())
                return w, h, [data[r * w : (r + 1) * w] for r in range(h)]
        raise ValueError("non-PNG payload and PIL not available")

    def run(batches):
        for pdf in batches:
            ids, dh, ah = [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                w, h, grid = _luma(bytes(payload))
                ids.append(int(rid))
                dh.append(dhash64_from_luma(grid, w, h))
                ah.append(ahash64_from_luma(grid, w, h))
            yield pd.DataFrame({id_col: ids, "dhash": dh, "ahash": ah})

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} long, dhash long, ahash long"
    )


#: YUV4MPEG2 stream signature — payloads with it route through the
#: pure-stdlib frame parser below, ffmpeg or not.
Y4M_MAGIC = b"YUV4MPEG2 "


def sample_frames_y4m(payload: bytes, n_frames: int = 4) -> list[str]:
    """Pure-stdlib Y4M (YUV4MPEG2) frame sampling → ``n_frames``
    evenly-spaced raw-frame md5 digests — the video sibling of
    :func:`decode_png_stdlib` / :func:`decode_wav_features`: Y4M is an
    uncompressed stream (one ASCII header, then ``FRAME...\\n`` +
    ``w*h*3/2`` bytes of YUV420 per frame), so this container samples
    REAL video frames without ffmpeg.

    Sampling picks frame indices ``floor(i * n_total / n_frames)`` —
    evenly spaced over the whole clip, matching the intent of the
    ffmpeg path's fps filter (digest VALUES differ by path: raw YUV
    here vs ffmpeg's scaled PPM; the contract is the deterministic
    per-frame digest, not cross-path equality). Only C420 variants
    (the overwhelmingly common chroma mode) are supported; other
    colourspace tags raise and stay with ffmpeg.
    """
    import hashlib

    buf = bytes(payload)
    if not buf.startswith(Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload")
    hdr_end = buf.index(b"\n")
    header = buf[len(Y4M_MAGIC):hdr_end].decode("ascii", "replace")
    w = h = None
    cspace = "420"
    for tok in header.split():
        if tok.startswith("W"):
            w = int(tok[1:])
        elif tok.startswith("H"):
            h = int(tok[1:])
        elif tok.startswith("C"):
            cspace = tok[1:]
    if w is None or h is None:
        raise ValueError("malformed Y4M: missing W/H in stream header")
    if not cspace.startswith("420"):
        raise ValueError(f"unsupported Y4M colourspace C{cspace}; use ffmpeg")
    frame_bytes = w * h * 3 // 2
    frames = []
    pos = hdr_end + 1
    n = len(buf)
    while pos < n:
        fh_end = buf.index(b"\n", pos)
        if not buf[pos:fh_end].startswith(b"FRAME"):
            raise ValueError("malformed Y4M: expected FRAME marker")
        start = fh_end + 1
        if start + frame_bytes > n:
            raise ValueError("malformed Y4M: truncated frame")
        frames.append((start, start + frame_bytes))
        pos = start + frame_bytes
    if not frames:
        return []
    if len(frames) <= n_frames:
        idxs = list(range(len(frames)))
    else:
        idxs = sorted({i * len(frames) // n_frames for i in range(n_frames)})
    return [hashlib.md5(buf[a:b]).hexdigest() for a, b in (frames[i] for i in idxs)]


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    use_real: bool | None = None,
) -> DataFrame:
    """Video frame sampling: emit ``n_frames`` evenly-spaced frame
    records per payload (frame_idx + per-frame digest).

    Real path: Y4M payloads parse via the pure-stdlib
    :func:`sample_frames_y4m` — no binary needed; compressed formats
    (mp4, mkv, …) go through the ffmpeg binary. Stub path: frame
    digests are deterministic slices of the payload hash. The output
    shape — one row per (media, frame), produced inside mapInPandas so
    a 10 GB video never leaves its executor — is the real contract
    either way.

    Dispatch mirrors the image/audio kernels: ``use_real=False`` →
    stub always; ``True`` → real required (Y4M always works; non-Y4M
    without ffmpeg raises executor-side); ``None`` → per-payload auto.
    """
    import hashlib

    import pandas as pd

    out_schema = f"{id_col} long, frame_idx int, frame_md5 string"

    def _frames_real(payload: bytes) -> list[str]:  # pragma: no cover - needs ffmpeg
        import os
        import subprocess
        import tempfile

        with tempfile.TemporaryDirectory(prefix="mmframes_") as td:
            src = os.path.join(td, "clip.bin")
            with open(src, "wb") as fh:
                fh.write(payload)
            # probe the duration so the fps filter yields n_frames
            # EVENLY spaced over the whole clip (a fixed frame-number
            # stride would cluster at the clip start)
            probe = subprocess.run(
                ["ffprobe", "-v", "error", "-show_entries", "format=duration",
                 "-of", "default=nw=1:nk=1", src],
                check=True, capture_output=True, text=True,
            )
            duration = max(float(probe.stdout.strip() or 1.0), 1e-6)
            pattern = os.path.join(td, "f%04d.ppm")
            # thumbnail-scale keeps the executor-local temp footprint
            # bounded
            subprocess.run(
                ["ffmpeg", "-v", "error", "-i", src,
                 "-vf", f"fps={max(1, n_frames)}/{duration},scale=64:-1",
                 "-frames:v", str(n_frames), pattern],
                check=True, capture_output=True,
            )
            digests = []
            for i in range(1, n_frames + 1):
                p = os.path.join(td, f"f{i:04d}.ppm")
                if os.path.exists(p):
                    with open(p, "rb") as fh:
                        digests.append(hashlib.md5(fh.read()).hexdigest())
            return digests

    def _frames_stub(payload: bytes) -> list[str]:
        # ASCII frame suffix so the DuckDB oracle can reproduce the
        # digest (md5 there is VARCHAR-only): md5(text || '#' || i)
        return [
            hashlib.md5(payload + b"#" + str(i).encode()).hexdigest()
            for i in range(n_frames)
        ]

    def frames(payload: bytes) -> list[str]:
        if use_real is False:
            return _frames_stub(payload)
        if bytes(payload[: len(Y4M_MAGIC)]) == Y4M_MAGIC:
            return sample_frames_y4m(payload, n_frames=n_frames)
        if FFMPEG_AVAILABLE:
            return _frames_real(payload)
        if use_real:
            raise ImportError(
                "real frame sampling requested for a non-Y4M payload but "
                "ffmpeg is not available (Y4M parses stdlib-only; "
                "compressed formats need ffmpeg)"
            )
        return _frames_stub(payload)

    def run(batches):
        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf["payload"]):
                for i, digest in enumerate(frames(bytes(p))):
                    rows.append({id_col: did, "frame_idx": i, "frame_md5": digest})
            yield pd.DataFrame(rows, columns=[id_col, "frame_idx", "frame_md5"])

    return df.select(id_col, "payload").mapInPandas(run, schema=out_schema)


#: Geometry of the synthesized near-dup test clips: 8 frames of
#: 8×8 C420 (= 96 bytes of YUV per frame — exactly three 32-char md5
#: hexdigests as ASCII, which is what lets a VARCHAR-only SQL md5
#: replay the parser's raw-frame digests bit for bit).
VIDEO_SYNTH_W, VIDEO_SYNTH_H, VIDEO_SYNTH_FRAMES = 8, 8, 8


def synthesize_y4m_variants(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_variants: int = 2,
) -> DataFrame:
    """Deterministic REAL-video corpus for the frame-signature near-dup
    pipeline: each source row yields ``n_variants`` Y4M clips of 8
    8×8 C420 frames — frame f's 96 raw bytes are the ASCII
    concatenation of ``md5(text:f:0) md5(text:f:1) md5(text:f:2)``
    hexdigests (96 chars = w·h·3/2 exactly), and variant v ≥ 1
    replaces frame 4's first chunk key with ``text:4:p{v}`` — a
    planted near-duplicate ("same clip, one re-edited frame"; frame 4
    IS one of the 4 evenly-sampled indices {0,2,4,6}, so the variant
    shares exactly 3 of 4 sampled frame digests with its original).
    ``video_id = id * n_variants + variant``. The payloads are REAL
    YUV4MPEG2 streams: the consumer must actually run the Y4M header/
    FRAME parsing, and — because the frame bytes are ASCII — a
    VARCHAR-only SQL md5 can recompute every sampled digest, value-
    verifying the parser round trip."""
    import hashlib

    import pandas as pd

    w, h, nf = VIDEO_SYNTH_W, VIDEO_SYNTH_H, VIDEO_SYNTH_FRAMES
    header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode("ascii")

    def clip(text: str, variant: int) -> bytes:
        parts = [header]
        for f in range(nf):
            k0 = f"{text}:{f}:p{variant}" if (variant and f == 4) else f"{text}:{f}:0"
            raw = (
                hashlib.md5(k0.encode()).hexdigest()
                + hashlib.md5(f"{text}:{f}:1".encode()).hexdigest()
                + hashlib.md5(f"{text}:{f}:2".encode()).hexdigest()
            ).encode("ascii")
            parts.append(b"FRAME\n" + raw)
        return b"".join(parts)

    def run(batches):
        for pdf in batches:
            ids, payloads = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                for v in range(n_variants):
                    ids.append(int(rid) * n_variants + v)
                    payloads.append(clip(str(text), v))
            yield pd.DataFrame({"video_id": ids, "payload": payloads})

    return df.select(id_col, text_col).mapInPandas(
        run, schema="video_id long, payload binary"
    )


def video_neardup_pairs(
    frames: DataFrame,
    id_col: str = "video_id",
    min_shared: int = 3,
) -> DataFrame:
    """Near-duplicate VIDEO pairs by position-aligned sampled-frame
    signatures: two clips are candidates when they share the same
    frame digest at the same sampled position (an EQUI-join on
    (frame_idx, frame_md5) — the shuffle key is the digest, never an
    all-pairs compare), and near-duplicates when they share at least
    ``min_shared`` of the sampled positions. Position alignment makes
    the signature robust to coincidental content reuse and keeps the
    join selective; digests are md5 — cross-clip collisions are
    cryptographically never. Input is :func:`sample_frames` output
    ``(id, frame_idx, frame_md5)``."""
    fr = frames.select(
        F.col(id_col).alias("id"), "frame_idx", "frame_md5"
    )
    a, b = fr.alias("a"), fr.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.frame_idx") == F.col("b.frame_idx"),
                F.col("a.frame_md5") == F.col("b.frame_md5"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


#: Geometry of the synthesized near-dup test clips: 65 windows of 8
#: unsigned-8-bit PCM samples (520 samples = 32.5 md5 digests' worth
#: of bytes) → 64 window-energy comparisons → a 64-bit fingerprint.
AUDIO_SYNTH_WINDOWS, AUDIO_SYNTH_WIN_LEN = 65, 8
AUDIO_SYNTH_RATE = 8000


def decode_wav_samples(payload: bytes) -> tuple[int, int, list[int]]:
    """PCM WAV decode to RAW integer samples → (rate, width_bytes,
    samples) — the audio analog of :func:`decode_png_luma`: the
    exact-integer hook the fingerprint kernel consumes
    (:func:`decode_wav_features` keeps the float feature path).
    Stdlib ``wave`` only (PCM 8/16/32-bit, mono or interleaved — the
    fingerprint mixes channels itself if it wants to); compressed tags
    stay with decode_wav_features' expansions."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        rate = w.getframerate()
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 1:
        return int(rate), 1, list(raw)
    if width == 2:
        return int(rate), 2, list(struct.unpack(f"<{len(raw) // 2}h", raw))
    if width == 4:
        return int(rate), 4, list(struct.unpack(f"<{len(raw) // 4}i", raw))
    raise ValueError(f"unsupported PCM sample width {width}")


def afp64_from_samples(
    samples: list[int], n_windows: int = AUDIO_SYNTH_WINDOWS, zero: int = 0
) -> int:
    """64-bit audio fingerprint from raw integer samples: split into
    ``n_windows`` equal windows (floor-edge partition like the image
    downscale), window energy = Σ (s − zero)² in EXACT integers, bit w
    = 1 iff energy[w+1] > energy[w] — the energy-delta sign profile, a
    chromaprint-style shape signature that is loudness-scale
    monotone-robust and, being exact integer arithmetic, SQL-
    replayable bit for bit. ``n_windows`` must be 65 for a 64-bit
    hash (asserted); ``zero=128`` for unsigned 8-bit PCM. MSB-first,
    signed-int64 wrap (the dHash conventions)."""
    if n_windows != 65:
        raise ValueError("afp64 needs exactly 65 windows (64 comparisons)")
    n = len(samples)
    energies = []
    for w in range(n_windows):
        a, b = w * n // n_windows, (w + 1) * n // n_windows
        energies.append(sum((s - zero) * (s - zero) for s in samples[a:b]))
    v = 0
    for w in range(64):
        v = (v << 1) | (1 if energies[w + 1] > energies[w] else 0)
    return _wrap_i64(v)


def afp64_mean_from_samples(
    samples: list[int], n_windows: int = AUDIO_SYNTH_WINDOWS, zero: int = 0
) -> int:
    """64-bit MEAN-delta audio lane: same floor-edge window partition
    as :func:`afp64_from_samples`, but folding each window to its
    exact integer SUM of (s − zero) (the window mean's numerator —
    dividing by the constant window size cannot change the comparison)
    and setting bit w = 1 iff sum[w+1] > sum[w]. Energy (L2) and mean
    (L1-signed) deltas fail differently — a re-encode that preserves
    loudness can still shift DC/mean and vice versa — which is exactly
    why the 128-bit wide fingerprint carries both lanes. Exact
    integers end to end: SQL-replayable bit for bit."""
    if n_windows != 65:
        raise ValueError("afp64 needs exactly 65 windows (64 comparisons)")
    n = len(samples)
    sums = []
    for w in range(n_windows):
        a, b = w * n // n_windows, (w + 1) * n // n_windows
        sums.append(sum(s - zero for s in samples[a:b]))
    v = 0
    for w in range(64):
        v = (v << 1) | (1 if sums[w + 1] > sums[w] else 0)
    return _wrap_i64(v)


def synthesize_wav_variants(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_variants: int = 2,
) -> DataFrame:
    """Deterministic REAL-audio corpus for the fingerprint near-dup
    pipeline: each source row yields ``n_variants`` mono 8-bit PCM WAV
    clips of 520 samples — variant 0's samples are md5 bytes of the
    text (``md5(text:k)`` chunks, k = 0..32, first 520 of 528 bytes),
    and variant v ≥ 1 adds ``+4·v (mod 256)`` to every sample of the
    single window at index ``id % 65`` — a planted near-duplicate
    ("same recording, one re-encoded chunk"): one changed window
    flips at most its two adjacent energy comparisons, so planted
    pairs sit at Hamming ≤ 2 while unrelated clips sit near 32.
    ``audio_id = id * n_variants + variant``. Payloads are REAL WAV
    containers (stdlib ``wave`` writer): the consumer must run the
    RIFF/fmt/data parse, and the sample bytes are md5-derived so a
    SQL oracle recomputes every fingerprint bit."""
    import hashlib
    import io
    import wave

    import pandas as pd

    n_px = AUDIO_SYNTH_WINDOWS * AUDIO_SYNTH_WIN_LEN  # 520
    n_chunks = (n_px + 15) // 16 + 1  # 33 digests ≥ 520 bytes

    def clip(text: str, rid: int, variant: int) -> bytes:
        base = b"".join(
            hashlib.md5(f"{text}:{k}".encode()).digest() for k in range(n_chunks)
        )[:n_px]
        px = bytearray(base)
        if variant:
            hot = rid % AUDIO_SYNTH_WINDOWS
            a, b = hot * AUDIO_SYNTH_WIN_LEN, (hot + 1) * AUDIO_SYNTH_WIN_LEN
            for j in range(a, b):
                px[j] = (px[j] + 4 * variant) % 256
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(AUDIO_SYNTH_RATE)
            w.writeframes(bytes(px))
        return buf.getvalue()

    def run(batches):
        for pdf in batches:
            ids, payloads = [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                for v in range(n_variants):
                    ids.append(int(rid) * n_variants + v)
                    payloads.append(clip(str(text), int(rid), v))
            yield pd.DataFrame({"audio_id": ids, "payload": payloads})

    return df.select(id_col, text_col).mapInPandas(
        run, schema="audio_id long, payload binary"
    )


def audio_fingerprint(
    df: DataFrame, id_col: str = "audio_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-clip 64-bit audio fingerprints over Arrow batches: REAL
    stdlib WAV decode (RIFF parse → raw integer samples) then the
    exact-integer energy-delta fingerprint — Python touches each clip
    once; the near-dup join downstream is JVM-side on 8-byte keys
    (``dedup.hamming_pairs`` with ``lanes=("afp",)``)."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids, fps = [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                _rate, width, samples = decode_wav_samples(bytes(payload))
                zero = 128 if width == 1 else 0
                ids.append(int(rid))
                fps.append(afp64_from_samples(samples, zero=zero))
            yield pd.DataFrame({id_col: ids, "afp": fps})

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} long, afp long"
    )


def audio_fingerprint_wide(
    df: DataFrame, id_col: str = "audio_id", payload_col: str = "payload"
) -> DataFrame:
    """Per-clip 128-bit audio fingerprints (round-9 wide-band family):
    ONE stdlib WAV decode per clip feeding BOTH exact-integer lanes —
    energy-delta (:func:`afp64_from_samples`) and mean-delta
    (:func:`afp64_mean_from_samples`) — so the near-dup join can run
    ``dedup.hamming_pairs`` on (afp, afp_mean). Python still
    touches each payload exactly once."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            ids, fps, fms = [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                _rate, width, samples = decode_wav_samples(bytes(payload))
                zero = 128 if width == 1 else 0
                ids.append(int(rid))
                fps.append(afp64_from_samples(samples, zero=zero))
                fms.append(afp64_mean_from_samples(samples, zero=zero))
            yield pd.DataFrame({id_col: ids, "afp": fps, "afp_mean": fms})

    return df.select(id_col, payload_col).mapInPandas(
        run, schema=f"{id_col} long, afp long, afp_mean long"
    )


#: RIFF/WAVE signature — payloads with it route through the
#: pure-stdlib decoder below, soundfile or not.
WAV_MAGIC_RIFF = b"RIFF"
WAV_MAGIC_WAVE = b"WAVE"


def _is_wav(payload: bytes) -> bool:
    return bytes(payload[:4]) == WAV_MAGIC_RIFF and bytes(payload[8:12]) == WAV_MAGIC_WAVE


#: FLAC stream signature — payloads with it decode through the
#: pure-stdlib FLAC decoder below, soundfile or not.
FLAC_MAGIC = b"fLaC"


def _is_flac(payload: bytes) -> bool:
    return bytes(payload[:4]) == FLAC_MAGIC


class _FlacBits:
    """MSB-first bit reader for FLAC streams (no byte stuffing)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.p = pos
        self.acc = 0
        self.n = 0

    def at_end(self) -> bool:
        return self.n == 0 and self.p >= len(self.d)

    def read(self, k: int) -> int:
        v = 0
        while k > 0:
            if self.n == 0:
                if self.p >= len(self.d):
                    raise ValueError("malformed FLAC: truncated stream")
                self.acc = self.d[self.p]
                self.p += 1
                self.n = 8
            take = min(k, self.n)
            self.n -= take
            v = (v << take) | ((self.acc >> self.n) & ((1 << take) - 1))
            k -= take
        return v

    def read_signed(self, k: int) -> int:
        v = self.read(k)
        return v - (1 << k) if v >= (1 << (k - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.n = 0


_FLAC_SAMPLE_SIZES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_utf8_number(bits: _FlacBits) -> int:
    """FLAC's UTF-8-style coded frame/sample number (1-7 bytes)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x40
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    if n_follow == 0 or n_follow > 6:
        raise ValueError("malformed FLAC: bad coded number")
    v = b0 & (mask - 1)
    for _ in range(n_follow):
        c = bits.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("malformed FLAC: bad coded-number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _flac_residual(bits: _FlacBits, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual section (both 4- and 5-bit parameter
    methods, escape partitions) → ``blocksize - order`` ints."""
    method = bits.read(2)
    if method > 1:
        raise ValueError("malformed FLAC: reserved residual method")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    po = bits.read(4)
    nparts = 1 << po
    if nparts > 1 and blocksize % nparts:
        raise ValueError("malformed FLAC: blocksize not partitionable")
    out: list[int] = []
    for part in range(nparts):
        count = (blocksize >> po) - (order if part == 0 else 0)
        if count < 0:
            raise ValueError("malformed FLAC: partition underflow")
        param = bits.read(plen)
        if param == escape:
            nbits = bits.read(5)
            for _ in range(count):
                out.append(bits.read_signed(nbits) if nbits else 0)
        else:
            for _ in range(count):
                q = bits.unary()
                v = (q << param) | (bits.read(param) if param else 0)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


_FLAC_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _flac_subframe(bits: _FlacBits, blocksize: int, bps: int) -> list[int]:
    """One subframe → ``blocksize`` channel samples (ints)."""
    if bits.read(1) != 0:
        raise ValueError("malformed FLAC: subframe pad bit")
    ftype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.unary() + 1
    eb = bps - wasted
    if ftype == 0:  # CONSTANT
        x = [bits.read_signed(eb)] * blocksize
    elif ftype == 1:  # VERBATIM
        x = [bits.read_signed(eb) for _ in range(blocksize)]
    elif 8 <= ftype <= 12:  # FIXED order 0-4
        order = ftype - 8
        x = [bits.read_signed(eb) for _ in range(order)]
        resid = _flac_residual(bits, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        for r in resid:
            pred = 0
            for j, c in enumerate(coefs):
                pred += c * x[-1 - j]
            x.append(r + pred)
    elif ftype >= 32:  # LPC, order 1-32
        order = (ftype & 31) + 1
        x = [bits.read_signed(eb) for _ in range(order)]
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("malformed FLAC: invalid LPC precision")
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("malformed FLAC: negative LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        resid = _flac_residual(bits, blocksize, order)
        for r in resid:
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * x[-1 - j]
            x.append(r + (acc >> shift))
    else:
        raise ValueError(f"malformed FLAC: reserved subframe type {ftype}")
    if wasted:
        x = [v << wasted for v in x]
    return x


def _audio_summary(
    samples: list[float], rate: int, n_windows: int
) -> tuple[float, int, float, list[float]]:
    """The stdlib decoders' shared feature fold over mono samples in
    [-1, 1] → (duration_s, sample_rate, peak_dbfs, ``n_windows``-slot
    RMS envelope)."""
    import math

    n = len(samples)
    duration = round(n / rate, 3)
    peak = max((abs(s) for s in samples), default=0.0)
    peak_dbfs = round(20 * math.log10(peak) if peak > 0 else -120.0, 3)
    env = []
    for i in range(n_windows):
        seg = samples[i * n // n_windows : (i + 1) * n // n_windows]
        if seg:
            env.append(round(math.sqrt(sum(s * s for s in seg) / len(seg)), 6))
        else:
            env.append(0.0)
    return duration, int(rate), peak_dbfs, env


def decode_flac_features(
    payload: bytes, n_windows: int = 8
) -> tuple[float, int, float, list[float]]:
    """Pure-stdlib FLAC decode → (duration_s, sample_rate, peak_dbfs,
    rms_envelope) — COMPRESSED audio without soundfile (round 6; the
    WAV/PNG/JPEG/Y4M stdlib story extended to the mainstream lossless
    codec). FLAC is framing + rice coding + integer linear prediction
    — no transcendental math, no float DSP — so a complete decoder is
    expressible with a bit reader and integer ops: STREAMINFO parse,
    frame headers (all blocksize/sample-rate codes, UTF-8-style coded
    numbers), CONSTANT/VERBATIM/FIXED(0-4)/LPC(1-32) subframes, wasted
    bits, 4/5-bit rice partitions with escape codes, and left/side,
    right/side, mid/side stereo decorrelation. CRCs are consumed but
    not verified (feature extraction, not archival validation).

    Features match :func:`decode_wav_features` exactly: samples
    normalize by 2^(bits−1), channels mix down by mean, peak in dBFS,
    ``n_windows``-slot RMS envelope. Lossy codecs (MP3/AAC/OGG) stay
    behind soundfile."""
    data = bytes(payload)
    if not _is_flac(data):
        raise ValueError("not a FLAC payload")
    pos = 4
    sr = None
    n_ch = None
    bps = None
    total = None
    # metadata blocks
    while True:
        if pos + 4 > len(data):
            raise ValueError("malformed FLAC: truncated metadata")
        hdr = data[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        ln = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        if btype == 0:  # STREAMINFO
            if len(body) < 34:
                raise ValueError("malformed FLAC: short STREAMINFO")
            packed = int.from_bytes(body[10:18], "big")
            sr = packed >> 44
            n_ch = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
        if last:
            break
    if not sr:
        raise ValueError("malformed FLAC: no STREAMINFO sample rate")

    bits = _FlacBits(data, pos)
    mixed: list[float] = []
    scale = float(1 << (bps - 1))
    while not bits.at_end():
        if total and len(mixed) >= total:
            break
        # frame header (byte-aligned)
        sync = bits.read(14)
        if sync != 0b11111111111110:
            raise ValueError("malformed FLAC: lost frame sync")
        bits.read(1)  # reserved
        bits.read(1)  # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_asgn = bits.read(4)
        ss_code = bits.read(3)
        bits.read(1)  # reserved
        _flac_utf8_number(bits)
        if bs_code == 0:
            raise ValueError("malformed FLAC: reserved blocksize code")
        elif bs_code == 1:
            blocksize = 192
        elif bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            blocksize = bits.read(8) + 1
        elif bs_code == 7:
            blocksize = bits.read(16) + 1
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("malformed FLAC: invalid sample-rate code")
        bits.read(8)  # header CRC-8 (not verified)
        if ss_code == 0:
            fbps = bps  # "get from STREAMINFO"
        elif ss_code in _FLAC_SAMPLE_SIZES:
            fbps = _FLAC_SAMPLE_SIZES[ss_code]
        else:
            raise ValueError("malformed FLAC: reserved sample-size code")
        if ch_asgn <= 7:
            chans = [
                _flac_subframe(bits, blocksize, fbps)
                for _ in range(ch_asgn + 1)
            ]
        elif ch_asgn == 8:  # left/side
            left = _flac_subframe(bits, blocksize, fbps)
            side = _flac_subframe(bits, blocksize, fbps + 1)
            chans = [left, [l - s for l, s in zip(left, side)]]
        elif ch_asgn == 9:  # side/right
            side = _flac_subframe(bits, blocksize, fbps + 1)
            right = _flac_subframe(bits, blocksize, fbps)
            chans = [[s + r for s, r in zip(side, right)], right]
        elif ch_asgn == 10:  # mid/side
            mid = _flac_subframe(bits, blocksize, fbps)
            side = _flac_subframe(bits, blocksize, fbps + 1)
            chans = [[], []]
            for m, s in zip(mid, side):
                m = (m << 1) | (s & 1)
                chans[0].append((m + s) >> 1)
                chans[1].append((m - s) >> 1)
        else:
            raise ValueError("malformed FLAC: reserved channel assignment")
        bits.align()
        bits.read(16)  # frame CRC-16 (not verified)
        k = len(chans)
        for i in range(blocksize):
            mixed.append(sum(ch[i] for ch in chans) / k / scale)
    if total:
        mixed = mixed[: int(total)]
    return _audio_summary(mixed, sr, n_windows)


#: IMA-ADPCM step-size table (IMA ADPCM reference algorithm /
#: Microsoft WAVE format 0x0011) — 89 entries.
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_nibble(nib: int, pred: int, index: int) -> tuple[int, int]:
    """One IMA-ADPCM nibble → (new predictor, new step index) — the
    reference reconstruction state machine (shared with the test-side
    encoder, which tracks the same reconstruction)."""
    step = _IMA_STEPS[index]
    delta = step >> 3
    if nib & 1:
        delta += step >> 2
    if nib & 2:
        delta += step >> 1
    if nib & 4:
        delta += step
    pred = pred - delta if nib & 8 else pred + delta
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_ADJ[nib & 7]))
    return pred, index


def _g711_ulaw_to_linear(u: int) -> int:
    """ITU-T G.711 µ-law byte → linear PCM (the reference expansion)."""
    u = ~u & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return (0x84 - t) if u & 0x80 else (t - 0x84)


def _g711_alaw_to_linear(a: int) -> int:
    """ITU-T G.711 A-law byte → linear PCM (the reference expansion)."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


def _decode_wav_compressed(payload: bytes) -> tuple[int, int, list[float]]:
    """Compressed RIFF/WAVE the stdlib ``wave`` module refuses →
    (sample_rate, n_channels, mean-mixed normalized samples).
    Handles format 0x0011 (IMA ADPCM — per-channel 4-byte block
    headers, nibble data in 4-byte per-channel groups, low nibble
    first) and the G.711 telephony codecs 0x0006 (A-law) / 0x0007
    (µ-law, one byte per sample, table expansion). Anything else
    raises with the offending tag named."""
    import struct

    data = bytes(payload)
    pos = 12  # past RIFF....WAVE
    fmt = None
    frames = []
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        ln = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            frames.append(body)
    if fmt is None or not frames:
        raise ValueError("malformed WAV: missing fmt/data chunk")
    tag, n_ch, rate, _br, block_align, _bits = struct.unpack("<HHIIHH", fmt[:16])
    raw = b"".join(frames)
    if tag in (0x0006, 0x0007):  # G.711 A-law / µ-law
        table = [
            (_g711_alaw_to_linear if tag == 0x0006 else _g711_ulaw_to_linear)(b)
            for b in range(256)
        ]
        lin = [table[b] / 32768.0 for b in raw]
        if n_ch > 1:
            lin = [
                sum(lin[i : i + n_ch]) / n_ch for i in range(0, len(lin), n_ch)
            ]
        return int(rate), int(n_ch), lin
    if tag != 0x0011:
        raise ValueError(f"unsupported WAV format tag 0x{tag:04x}")
    mixed: list[float] = []
    ch_bytes = block_align // n_ch
    for b0 in range(0, len(raw) - block_align + 1, block_align):
        block = raw[b0 : b0 + block_align]
        preds, idxs = [], []
        chans: list[list[int]] = []
        for c in range(n_ch):
            p, ix = struct.unpack_from("<hB", block, c * 4)
            preds.append(p)
            idxs.append(min(max(ix, 0), 88))
            chans.append([p])
        # nibble data: 4-byte groups round-robin across channels
        off = 4 * n_ch
        group = 0
        while off < len(block):
            c = group % n_ch
            for byte in block[off : off + 4]:
                for nib in (byte & 0xF, byte >> 4):
                    preds[c], idxs[c] = _ima_decode_nibble(nib, preds[c], idxs[c])
                    chans[c].append(preds[c])
            off += 4
            group += 1
        n_samp = 1 + (ch_bytes - 4) * 2
        for i in range(n_samp):
            mixed.append(sum(ch[i] for ch in chans) / n_ch / 32768.0)
    return int(rate), int(n_ch), mixed


def decode_wav_features(
    payload: bytes, n_windows: int = 8
) -> tuple[float, int, float, list[float]]:
    """Pure-stdlib WAV decode → (duration_s, sample_rate, peak_dbfs,
    rms_envelope) — the audio sibling of :func:`decode_png_stdlib`:
    RIFF/WAVE PCM parses with the stdlib ``wave`` module + struct, and
    — round 6 — COMPRESSED WAV decodes through the reference
    expansions for IMA-ADPCM (tag 0x0011, 4-bit differential state
    machine) and the G.711 telephony codecs (tag 0x0006 A-law /
    0x0007 µ-law, table expansion validated against the audioop
    reference), so this container runs a REAL audio decode without
    soundfile for all of them. Samples normalize to float64 with
    soundfile's PCM scaling (int16 → x/2¹⁵, int32 → x/2³¹, 8-bit
    unsigned → (x−128)/2⁷); multi-channel mixes down by mean exactly
    like the soundfile path. Other compressed WAV tags (MP3…) raise —
    soundfile stays the route for those.
    """
    import io
    import struct
    import wave

    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            rate = w.getframerate()
            n_ch = w.getnchannels()
            width = w.getsampwidth()
            n_frames = w.getnframes()
            raw = w.readframes(n_frames)
    except wave.Error:
        # non-PCM container: the stdlib module refuses; IMA-ADPCM
        # decodes here, anything else re-raises as unsupported
        rate, _nc, samples = _decode_wav_compressed(payload)
        return _audio_summary(samples, rate, n_windows)
    if width == 2:
        ints = struct.unpack(f"<{len(raw) // 2}h", raw)
        scale = float(1 << 15)
        samples = [x / scale for x in ints]
    elif width == 4:
        ints = struct.unpack(f"<{len(raw) // 4}i", raw)
        scale = float(1 << 31)
        samples = [x / scale for x in ints]
    elif width == 1:  # 8-bit WAV is unsigned
        samples = [(x - 128) / 128.0 for x in raw]
    else:
        raise ValueError(f"unsupported PCM sample width {width}; use soundfile")
    if n_ch > 1:
        samples = [
            sum(samples[i : i + n_ch]) / n_ch
            for i in range(0, len(samples), n_ch)
        ]
    return _audio_summary(samples, rate, n_windows)


def extract_audio_features(
    df: DataFrame,
    n_windows: int = 8,
    id_col: str = "doc_id",
    use_real: bool | None = None,
) -> DataFrame:
    """Audio decode + feature extraction: per-payload (duration,
    sample rate, peak dBFS) plus an ``n_windows``-slot RMS loudness
    envelope (array<double>).

    Real path: RIFF/WAVE PCM payloads decode via the pure-stdlib
    :func:`decode_wav_features` and FLAC via the pure-stdlib
    :func:`decode_flac_features` — no library needed; lossy formats
    (MP3, OGG, …) go through soundfile. Stub path: deterministic
    functions of the payload hash. The Spark-side contract is
    identical — Arrow-batched mapInPandas, one row per clip with a
    fixed-length envelope array, so a multi-GB audio file is decoded
    where its bytes already live and only the tiny feature row crosses
    the wire.

    Dispatch mirrors decode_image_features: ``use_real=False`` → stub
    always (registered queries pin it — payloads are synthetic text);
    ``True`` → real required (WAV always works; non-WAV without
    soundfile raises executor-side); ``None`` → per-payload auto.
    """
    import hashlib

    import pandas as pd

    out_schema = (
        f"{id_col} long, duration_s double, sample_rate int, "
        "peak_dbfs double, rms_envelope array<double>"
    )

    def _decode_soundfile(payload: bytes) -> tuple[float, int, float, list[float]]:  # pragma: no cover - needs soundfile
        import io
        import math

        import numpy as np
        import soundfile as sf

        data, rate = sf.read(io.BytesIO(payload), dtype="float64")
        if data.ndim > 1:
            data = data.mean(axis=1)
        n = len(data)
        duration = round(n / rate, 3)
        peak = float(np.max(np.abs(data))) if n else 0.0
        peak_dbfs = round(20 * math.log10(peak) if peak > 0 else -120.0, 3)
        env = []
        for i in range(n_windows):
            seg = data[i * n // n_windows : (i + 1) * n // n_windows]
            env.append(round(float(np.sqrt(np.mean(seg**2))) if len(seg) else 0.0, 6))
        return duration, int(rate), peak_dbfs, env

    def _decode_stub(payload: bytes) -> tuple[float, int, float, list[float]]:
        h = hashlib.sha256(payload).digest()
        # /8 keeps 0.125 granularity: 3-dp rounding is then a no-op in
        # every rounding mode, so the value is engine-agnostic
        duration = round(1.0 + h[0] / 8, 3)
        rate = (8, 16, 22, 44, 48)[h[1] % 5] * 1000
        peak = round(-(h[2] % 24) - h[3] / 255, 3)
        env = [round(h[4 + i] / 255, 6) for i in range(n_windows)]
        return duration, rate, peak, env

    def decode(payload: bytes) -> tuple[float, int, float, list[float]]:
        if use_real is False:
            return _decode_stub(payload)
        if _is_wav(payload):
            return decode_wav_features(payload, n_windows=n_windows)
        if _is_flac(payload):
            return decode_flac_features(payload, n_windows=n_windows)
        if SOUNDFILE_AVAILABLE:
            return _decode_soundfile(payload)
        if use_real:
            raise ImportError(
                "real decode requested for a non-WAV/FLAC payload but "
                "soundfile is not available (WAV and FLAC decode "
                "stdlib-only; lossy formats need soundfile)"
            )
        return _decode_stub(payload)

    def run(batches):
        for pdf in batches:
            feats = [decode(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(
                feats, columns=["duration_s", "sample_rate", "peak_dbfs", "rms_envelope"]
            )
            out.insert(0, id_col, pdf[id_col].values)
            yield out

    return df.select(id_col, "payload").mapInPandas(run, schema=out_schema)
