"""Multimodal binary-column ops: payload/metadata schema, stub decode
determinism, and per-frame fan-out shape (stub kernels, real Arrow
batching — see operators/multimodal.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from the_framework_for_clustering_time_series_data_spark.operators import dedup, multimodal
from the_framework_for_clustering_time_series_data_spark.sources.tables import load_table


def _docs(spark):
    return multimodal.attach_payload(load_table(spark, SF_SMALL, "documents"))


def test_attach_payload_metadata_consistent(spark):
    d = _docs(spark)
    bad = d.where(
        (F.col("media_meta.n_bytes") != F.octet_length("payload"))
        | (F.col("media_meta.content_md5") != F.md5("payload"))
    )
    assert bad.count() == 0
    assert dict(d.dtypes)["payload"] == "binary"


def test_image_features_deterministic_and_bounded(spark):
    d = _docs(spark)
    a = sorted(map(tuple, multimodal.decode_image_features(d).collect()))
    b = sorted(map(tuple, multimodal.decode_image_features(d).collect()))
    assert a == b
    assert all(64 <= r[1] <= 255 and 64 <= r[2] <= 255 and 0 <= r[3] <= 1 for r in a)


def test_frame_sample_fanout_shape(spark):
    d = _docs(spark)
    n_docs = d.count()
    frames = multimodal.sample_frames(d, n_frames=4)
    assert frames.count() == 4 * n_docs
    per = frames.groupBy("doc_id").agg(
        F.countDistinct("frame_idx").alias("n_idx"),
        F.countDistinct("frame_md5").alias("n_digests"),
    )
    assert per.where((F.col("n_idx") != 4) | (F.col("n_digests") != 4)).count() == 0


def test_audio_features_shape_and_determinism(spark):
    d = _docs(spark)
    out = multimodal.extract_audio_features(d, n_windows=8)
    rows = out.collect()
    assert len(rows) == d.count()
    assert all(len(r["rms_envelope"]) == 8 for r in rows)
    assert all(r["peak_dbfs"] <= 0.0 and r["duration_s"] > 0 for r in rows)
    again = out.collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))


def test_stub_forced_even_if_real_available(spark):
    # use_real=False must always take the deterministic stub path
    d = _docs(spark).limit(5)
    a = sorted(map(tuple, multimodal.decode_image_features(d, use_real=False).collect()))
    b = sorted(map(tuple, multimodal.decode_image_features(d, use_real=False).collect()))
    assert a == b and len(a) == 5


def test_forcing_real_without_dependency_raises(spark):
    import pytest as _pytest

    d = _docs(spark).limit(1)
    if not multimodal.PIL_AVAILABLE:
        # PNG now decodes stdlib-only, so the ImportError moved to
        # decode time and fires only for non-PNG payloads (these are
        # synthetic text); Spark surfaces it wrapped at collect()
        with _pytest.raises(Exception, match="PIL"):
            multimodal.decode_image_features(d, use_real=True).collect()
    if not multimodal.SOUNDFILE_AVAILABLE:
        # WAV now decodes stdlib-only; the error fires at decode time
        # for non-WAV payloads (these are synthetic text)
        with _pytest.raises(Exception, match="soundfile"):
            multimodal.extract_audio_features(d, use_real=True).collect()
    if not multimodal.FFMPEG_AVAILABLE:
        # Y4M now parses stdlib-only; the error fires at decode time
        # for non-Y4M payloads (these are synthetic text)
        with _pytest.raises(Exception, match="ffmpeg"):
            multimodal.sample_frames(d, use_real=True).collect()


def test_real_image_decode_pil(spark):
    # self-skips without PIL. Payloads are hand-built P6 PPMs (no
    # library needed to CREATE them), so the real decoder's output is
    # exactly checkable: dimensions and mean gray level.
    import pytest as _pytest

    if not multimodal.PIL_AVAILABLE:
        _pytest.skip("PIL not available")
    # 2x2 all-white and 1x3 all-black images
    white = b"P6\n2 2\n255\n" + b"\xff" * 12
    black = b"P6\n1 3\n255\n" + b"\x00" * 9
    df = spark.createDataFrame([(1, bytearray(white)), (2, bytearray(black))],
                               "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.decode_image_features(df, use_real=True).collect()}
    assert (out[1]["width"], out[1]["height"]) == (2, 2)
    assert out[1]["mean_intensity"] == 1.0
    assert (out[2]["width"], out[2]["height"]) == (1, 3)
    assert out[2]["mean_intensity"] == 0.0


def test_real_audio_decode_wav(spark):
    # No skip: WAV decodes via the pure-stdlib path in any container.
    # The WAV is built with the stdlib wave module: 1 s of silence at
    # 8 kHz -> duration 1.0, rate 8000, zero envelope, floor dBFS.
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 8000)
    df = spark.createDataFrame([(1, bytearray(buf.getvalue()))], "doc_id long, payload binary")
    r = multimodal.extract_audio_features(df, n_windows=4, use_real=True).collect()[0]
    assert r["duration_s"] == 1.0 and r["sample_rate"] == 8000
    assert r["peak_dbfs"] == -120.0
    assert r["rms_envelope"] == [0.0, 0.0, 0.0, 0.0]


def test_real_frame_sampling_ffmpeg(spark):
    # self-skips without ffmpeg; the clip itself is generated by ffmpeg
    import subprocess
    import tempfile

    import pytest as _pytest

    if not multimodal.FFMPEG_AVAILABLE:
        _pytest.skip("ffmpeg not available")
    with tempfile.NamedTemporaryFile(suffix=".mp4") as f:
        subprocess.run(
            ["ffmpeg", "-v", "error", "-y", "-f", "lavfi",
             "-i", "testsrc=duration=1:size=64x64:rate=8", f.name],
            check=True, capture_output=True,
        )
        payload = open(f.name, "rb").read()
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    rows = multimodal.sample_frames(df, n_frames=4, use_real=True).collect()
    assert len(rows) == 4
    assert len({r["frame_md5"] for r in rows}) > 1  # frames differ over time


def _encode_png(width, height, ctype, pixels, filters=None, palette=None):
    """Minimal stdlib PNG ENCODER for the decoder tests: ``pixels`` is
    rows of per-channel byte tuples; ``filters`` picks the filter type
    per row (default all 0) with the standard forward-filter applied,
    so decode must UNDO it to recover the pixels."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    raw = bytearray()
    stride = width * channels
    prev = bytearray(stride)
    filters = filters or [0] * height
    for row, f in zip(pixels, filters):
        line = bytearray(b for px in row for b in px)
        assert len(line) == stride
        out = bytearray(line)
        if f == 1:
            for i in range(stride - 1, channels - 1, -1):
                out[i] = (line[i] - line[i - channels]) & 0xFF
        elif f == 2:
            for i in range(stride):
                out[i] = (line[i] - prev[i]) & 0xFF
        elif f == 3:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                out[i] = (line[i] - ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (line[i] - pred) & 0xFF
        raw += bytes([f]) + out
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    png = bytearray(multimodal.PNG_MAGIC)
    png += chunk(b"IHDR", ihdr)
    if palette is not None:
        png += chunk(b"PLTE", bytes(b for rgb in palette for b in rgb))
    png += chunk(b"IDAT", zlib.compress(bytes(raw)))
    png += chunk(b"IEND", b"")
    return bytes(png)


def test_png_stdlib_decode_gray_all_filters():
    # 4x5 grayscale ramp, one row per filter type 0..4: unfiltering
    # must exactly invert the encoder's forward filters
    rows = [[((r * 37 + c * 11) % 256,) for c in range(4)] for r in range(5)]
    png = _encode_png(4, 5, 0, rows, filters=[0, 1, 2, 3, 4])
    w, h, mean = multimodal.decode_png_stdlib(png)
    want = sum(px[0] for row in rows for px in row) / 20 / 255.0
    assert (w, h) == (4, 5)
    assert mean == round(want, 6)


def test_png_stdlib_decode_rgb_palette_alpha():
    # RGB: ITU-R 601-2 integer luma, Pillow's exact arithmetic
    rgb_rows = [[(200, 10, 55), (0, 255, 0)], [(255, 255, 255), (0, 0, 0)]]
    png = _encode_png(2, 2, 2, rgb_rows, filters=[4, 2])
    w, h, mean = multimodal.decode_png_stdlib(png)
    lum = [
        (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16
        for row in rgb_rows
        for (r, g, b) in row
    ]
    assert (w, h) == (2, 2) and mean == round(sum(lum) / 4 / 255.0, 6)

    # palette: indices map through PLTE then the same luma transform
    pal = [(250, 0, 0), (0, 250, 0), (0, 0, 250)]
    idx_rows = [[(0,), (1,), (2,)], [(2,), (1,), (0,)]]
    png = _encode_png(3, 2, 3, idx_rows, palette=pal, filters=[0, 1])
    w, h, mean = multimodal.decode_png_stdlib(png)
    lum = [
        (pal[i][0] * 19595 + pal[i][1] * 38470 + pal[i][2] * 7471 + 0x8000) >> 16
        for row in idx_rows
        for (i,) in row
    ]
    assert (w, h) == (3, 2) and mean == round(sum(lum) / 6 / 255.0, 6)

    # gray+alpha / RGBA: alpha ignored (PIL convert('L') semantics)
    ga_rows = [[(100, 0), (200, 255)]]
    png = _encode_png(2, 1, 4, ga_rows)
    assert multimodal.decode_png_stdlib(png) == (2, 1, round(150 / 255.0, 6))
    rgba_rows = [[(10, 20, 30, 0), (40, 50, 60, 128)]]
    png = _encode_png(2, 1, 6, rgba_rows, filters=[3])
    lum = [
        (r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16
        for (r, g, b, _a) in rgba_rows[0]
    ]
    assert multimodal.decode_png_stdlib(png) == (2, 1, round(sum(lum) / 2 / 255.0, 6))


def test_png_stdlib_rejects_unsupported():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png_stdlib(b"JFIF....")
    # 16-bit depth
    import struct
    import zlib

    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

    png16 = (
        multimodal.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="unsupported"):
        multimodal.decode_png_stdlib(png16)


def test_png_real_path_in_spark_without_pil(spark):
    # the round-4 goal: REAL image decode exercised end-to-end in this
    # container (no PIL) — PNG payloads through the mapInPandas kernel
    rows = [[((r * 53 + c * 29) % 256,) for c in range(8)] for r in range(6)]
    png = _encode_png(8, 6, 0, rows, filters=[0, 1, 2, 3, 4, 2])
    df = spark.createDataFrame(
        [(1, bytearray(png))], "doc_id long, payload binary"
    )
    out = multimodal.decode_image_features(df, use_real=True).collect()[0]
    want = round(sum(px[0] for row in rows for px in row) / 48 / 255.0, 6)
    assert (out["width"], out["height"], out["mean_intensity"]) == (8, 6, want)
    # auto mode (use_real=None) must pick the real decoder for PNG too
    auto = multimodal.decode_image_features(df).collect()[0]
    assert tuple(auto) == tuple(out)


def test_png_stdlib_matches_pil(spark):
    # cross-engine lock: when PIL is present both paths must agree
    # bit-for-bit (self-skips in this container)
    import pytest as _pytest

    if not multimodal.PIL_AVAILABLE:
        _pytest.skip("PIL not available")
    rows = [[((r * 7 + c * 3) % 256, (r * 5) % 256, (c * 9) % 256) for c in range(5)]
            for r in range(4)]
    png = _encode_png(5, 4, 2, rows, filters=[0, 1, 2, 4])
    import io

    from PIL import Image

    gray = Image.open(io.BytesIO(png)).convert("L")
    hist = gray.histogram()
    n = sum(hist)
    pil_mean = round(sum(i * c for i, c in enumerate(hist)) / n / 255.0, 6)
    assert multimodal.decode_png_stdlib(png) == (5, 4, pil_mean)


def test_wav_stdlib_decode_values():
    """Exact feature values for a hand-built 16-bit PCM WAV: a square
    wave at half amplitude — duration, rate, peak dBFS (20·log10(0.5)),
    and a constant RMS envelope of 0.5 (square wave RMS = amplitude)."""
    import io
    import math
    import struct
    import wave

    amp = 1 << 14  # 0.5 full scale
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        frames = b"".join(
            struct.pack("<h", amp if (i // 8) % 2 == 0 else -amp)
            for i in range(16000)
        )
        w.writeframes(frames)
    dur, rate, peak, env = multimodal.decode_wav_features(buf.getvalue(), n_windows=4)
    assert (dur, rate) == (1.0, 16000)
    assert peak == round(20 * math.log10(amp / 32768.0), 3)
    assert env == [round(amp / 32768.0, 6)] * 4


def test_wav_stdlib_stereo_and_widths():
    """Stereo mixes down by mean; 8-bit unsigned and 32-bit widths
    normalize with the PCM scalings; non-PCM width raises."""
    import io
    import struct
    import wave

    import pytest as _pytest

    # stereo 16-bit: L=+0.5, R=-0.5 -> mean 0 everywhere
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<hh", 1 << 14, -(1 << 14)) * 800)
    dur, rate, peak, env = multimodal.decode_wav_features(buf.getvalue(), n_windows=2)
    assert peak == -120.0 and env == [0.0, 0.0]

    # 8-bit unsigned: constant 192 -> (192-128)/128 = 0.5
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([192]) * 400)
    _, _, _, env = multimodal.decode_wav_features(buf.getvalue(), n_windows=2)
    assert env == [0.5, 0.5]

    # 3-byte width is unsupported by the stdlib path
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(3)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00" * 16)
    with _pytest.raises(ValueError, match="sample width"):
        multimodal.decode_wav_features(buf.getvalue())


def test_wav_real_path_in_spark_without_soundfile(spark):
    """REAL audio decode end-to-end in this container: WAV payloads
    through the mapInPandas kernel with use_real=True, no soundfile."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<h", 1 << 13) * 4000)  # 0.5 s at 0.25FS
    df = spark.createDataFrame(
        [(7, bytearray(buf.getvalue()))], "doc_id long, payload binary"
    )
    r = multimodal.extract_audio_features(df, n_windows=4, use_real=True).collect()[0]
    assert r["duration_s"] == 0.5 and r["sample_rate"] == 8000
    assert r["rms_envelope"] == [0.25] * 4
    auto = multimodal.extract_audio_features(df, n_windows=4).collect()[0]
    assert tuple(auto) == tuple(r)


def _flac_crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _FlacWriter:
    """MSB-first bit writer for the test-side FLAC encoder."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, v: int, k: int):
        for i in range(k - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc, self.n = 0, 0

    def put_signed(self, v: int, k: int):
        self.put(v & ((1 << k) - 1), k)

    def align(self):
        if self.n:
            self.put(0, 8 - self.n)


def _flac_utf8(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    for n_follow in range(1, 7):
        if n < (1 << (6 - n_follow + 6 * n_follow)):
            lead = (0xFF << (7 - n_follow)) & 0xFF | (n >> (6 * n_follow))
            rest = [
                0x80 | ((n >> (6 * (n_follow - 1 - i))) & 0x3F)
                for i in range(n_follow)
            ]
            return bytes([lead] + rest)
    raise ValueError("frame number too large")


def _encode_flac(
    channels,
    sr=8000,
    bps=16,
    blocksize=256,
    subframe="fixed2",
    midside=False,
    partition_order=0,
    escape=False,
    bs_code_192=False,
):
    """Minimal FLAC ENCODER (test-side, stdlib only): STREAMINFO +
    fixed-blocksize frames with CONSTANT / VERBATIM / FIXED(0-2)
    subframes, 4-bit rice partitions (optional escape partitions),
    independent or mid/side stereo, real CRC-8/CRC-16. Exists so the
    stdlib FLAC decoder is exercised against an INDEPENDENT
    implementation of the bit layout."""
    import struct

    n_ch = len(channels)
    total = len(channels[0])
    if bs_code_192:
        blocksize = 192
    out = bytearray(b"fLaC")
    info = bytearray()
    info += struct.pack(">HH", blocksize, blocksize)
    info += b"\x00\x00\x00" * 2  # min/max frame size unknown
    packed = (sr << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36) | total
    info += packed.to_bytes(8, "big")
    info += b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)

    def write_subframe(bw, x, ch_bps):
        if subframe == "constant" and len(set(x)) == 1:
            bw.put(0, 1); bw.put(0, 6); bw.put(0, 1)
            bw.put_signed(x[0], ch_bps)
            return
        if subframe == "verbatim":
            bw.put(0, 1); bw.put(1, 6); bw.put(0, 1)
            for v in x:
                bw.put_signed(v, ch_bps)
            return
        if subframe == "lpc":
            # order-2 quantized-LPC subframe: coefs [3, -1] at shift 1
            # (a gentle low-pass predictor — any values exercise the
            # integer prediction path; decoder must reproduce exactly)
            order, shift, coefs = 2, 1, [3, -1]
            bw.put(0, 1); bw.put(32 + (order - 1), 6); bw.put(0, 1)
            for v in x[:order]:
                bw.put_signed(v, ch_bps)
            prec = 4
            bw.put(prec - 1, 4)
            bw.put_signed(shift, 5)
            for c in coefs:
                bw.put_signed(c, prec)
            resid = []
            for i in range(order, len(x)):
                acc = sum(c * x[i - 1 - j] for j, c in enumerate(coefs))
                resid.append(x[i] - (acc >> shift))
        else:
            order = int(subframe[-1])  # "fixed0".."fixed2"
            coefs = {0: [], 1: [1], 2: [2, -1]}[order]
            bw.put(0, 1); bw.put(8 + order, 6); bw.put(0, 1)
            for v in x[:order]:
                bw.put_signed(v, ch_bps)
            resid = []
            for i in range(order, len(x)):
                pred = sum(c * x[i - 1 - j] for j, c in enumerate(coefs))
                resid.append(x[i] - pred)
        bw.put(0, 2)  # 4-bit rice method
        po = partition_order
        bw.put(po, 4)
        nparts = 1 << po
        idx = 0
        for part in range(nparts):
            count = (len(x) >> po) - (order if part == 0 else 0)
            vals = resid[idx : idx + count]
            idx += count
            if escape:
                nbits = max((v if v >= 0 else ~v).bit_length() + 1 for v in vals) if vals else 1
                bw.put(15, 4)
                bw.put(nbits, 5)
                for v in vals:
                    bw.put_signed(v, nbits)
            else:
                zz = [((abs(v) << 1) - (1 if v < 0 else 0)) for v in vals]
                mx = max(zz, default=0)
                p = 0
                while (mx >> p) > 30:  # bound unary quotients
                    p += 1
                bw.put(p, 4)
                for z in zz:
                    q = z >> p
                    if q:
                        bw.put(0, q)
                    bw.put(1, 1)
                    if p:
                        bw.put(z & ((1 << p) - 1), p)

    nframes = -(-total // blocksize)
    for fi in range(nframes):
        seg = [ch[fi * blocksize : (fi + 1) * blocksize] for ch in channels]
        bs = len(seg[0])
        hdr = _FlacWriter()
        hdr.put(0b11111111111110, 14)
        hdr.put(0, 1)  # reserved
        hdr.put(0, 1)  # fixed blocksize strategy
        bs_code = 1 if (bs_code_192 and bs == 192) else 7
        hdr.put(bs_code, 4)
        hdr.put(0, 4)  # sample rate from STREAMINFO
        ch_asgn = 10 if midside else n_ch - 1
        hdr.put(ch_asgn, 4)
        hdr.put(4 if bps == 16 else 1, 3)  # 16- or 8-bit code
        hdr.put(0, 1)
        for b in _flac_utf8(fi):
            hdr.put(b, 8)
        if bs_code == 7:
            hdr.put(bs - 1, 16)
        hdr.align()
        hdr_bytes = bytes(hdr.out)
        hdr_bytes += bytes([_flac_crc8(hdr_bytes)])
        bw = _FlacWriter()
        if midside:
            l, r = seg
            mid = [(a + b) >> 1 for a, b in zip(l, r)]
            side = [a - b for a, b in zip(l, r)]
            write_subframe(bw, mid, bps)
            write_subframe(bw, side, bps + 1)
        else:
            for ch in seg:
                write_subframe(bw, ch, bps)
        bw.align()
        frame = hdr_bytes + bytes(bw.out)
        frame += struct.pack(">H", _flac_crc16(frame))
        out += frame
    return bytes(out)


def _encode_wav_ima_adpcm(channels, sr=8000, samples_per_block=505):
    """Minimal IMA-ADPCM WAV ENCODER (test-side, stdlib only): format
    tag 0x0011, per-channel 4-byte block headers, nibble data in
    4-byte per-channel groups. Returns (payload, reconstruction) —
    the encoder tracks the decoder-visible reconstruction, which the
    stdlib decoder must reproduce EXACTLY (the codec is a
    deterministic state machine; lossiness lives in the quantizer,
    not the reconstruction)."""
    import struct

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        _IMA_STEPS,
        _ima_decode_nibble,
    )

    n_ch = len(channels)
    total = len(channels[0])
    nib_per_block = samples_per_block - 1
    assert nib_per_block % 8 == 0, "samples_per_block-1 must be multiple of 8"
    ch_bytes = 4 + nib_per_block // 2
    block_align = ch_bytes * n_ch
    body = bytearray()
    recon = [[] for _ in range(n_ch)]
    idxs = [0] * n_ch
    for b0 in range(0, total - samples_per_block + 1, samples_per_block):
        nibbles = [[] for _ in range(n_ch)]
        headers = []
        for c in range(n_ch):
            pred = channels[c][b0]
            headers.append(struct.pack("<hBB", pred, idxs[c], 0))
            recon[c].append(pred)
            for i in range(1, samples_per_block):
                target = channels[c][b0 + i]
                step = _IMA_STEPS[idxs[c]]
                diff = target - pred
                nib = 0
                if diff < 0:
                    nib = 8
                    diff = -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                nibbles[c].append(nib)
                pred, idxs[c] = _ima_decode_nibble(nib, pred, idxs[c])
                recon[c].append(pred)
        body += b"".join(headers)
        # interleave 4-byte (8-nibble) groups round-robin per channel
        ptr = [0] * n_ch
        group = 0
        while any(p < nib_per_block for p in ptr):
            c = group % n_ch
            for _ in range(4):
                lo = nibbles[c][ptr[c]]
                hi = nibbles[c][ptr[c] + 1]
                body.append(lo | (hi << 4))
                ptr[c] += 2
            group += 1
    fmt = struct.pack(
        "<HHIIHHHH",
        0x0011, n_ch, sr, sr * block_align // samples_per_block,
        block_align, 4, 2, samples_per_block,
    )
    out = bytearray()
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(body)) + bytes(body)
    riff = b"WAVE" + bytes(out)
    return (
        b"RIFF" + struct.pack("<I", len(riff)) + riff,
        recon,
    )


def test_wav_ima_adpcm_decodes_encoder_reconstruction():
    """The IMA-ADPCM decoder must reproduce the encoder's tracked
    reconstruction EXACTLY — the nibble state machine is deterministic
    — and the features must equal the WAV-path features of that
    reconstruction (computed by re-encoding it as plain PCM)."""
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        decode_wav_features,
    )

    pcm = _flac_test_wave(n=1011, amp=20000)
    payload, recon = _encode_wav_ima_adpcm([pcm], samples_per_block=505)
    got = decode_wav_features(payload)
    n_full = (len(pcm) // 505) * 505
    ref = decode_wav_features(_wav_payload(recon[0][:n_full]))
    assert got == ref


def test_wav_ima_adpcm_stereo():
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        decode_wav_features,
    )
    import io
    import struct
    import wave

    left = _flac_test_wave(n=505, amp=15000)
    right = [v // 2 for v in left]
    payload, recon = _encode_wav_ima_adpcm([left, right], samples_per_block=505)
    got = decode_wav_features(payload)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        inter = [x for pair in zip(recon[0], recon[1]) for x in pair]
        w.writeframes(struct.pack(f"<{len(inter)}h", *inter))
    assert got == decode_wav_features(buf.getvalue())


def _g711_wav(samples_bytes, tag, sr=8000, n_ch=1):
    import struct

    fmt = struct.pack("<HHIIHH", tag, n_ch, sr, sr * n_ch, n_ch, 8)
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(samples_bytes)) + bytes(samples_bytes)
    riff = b"WAVE" + body
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def test_wav_g711_matches_audioop_reference():
    """The µ-law/A-law expansions must agree byte-for-byte with the
    stdlib audioop reference implementation (independent C code);
    features then follow from PCM equality."""
    import pytest

    audioop = pytest.importorskip("audioop")  # removed in Python 3.13
    import struct

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        _g711_alaw_to_linear,
        _g711_ulaw_to_linear,
        decode_wav_features,
    )

    for b in range(256):
        assert _g711_ulaw_to_linear(b) == struct.unpack(
            "<h", audioop.ulaw2lin(bytes([b]), 2)
        )[0], f"ulaw byte {b}"
        assert _g711_alaw_to_linear(b) == struct.unpack(
            "<h", audioop.alaw2lin(bytes([b]), 2)
        )[0], f"alaw byte {b}"
    # end-to-end: features equal the WAV-path features of the expansion
    payload = bytes(range(256)) * 4
    for tag, fn in ((0x0007, _g711_ulaw_to_linear), (0x0006, _g711_alaw_to_linear)):
        got = decode_wav_features(_g711_wav(payload, tag))
        ref = decode_wav_features(_wav_payload([fn(b) for b in payload]))
        assert got == ref, f"tag 0x{tag:04x}"


def test_wav_g711_stereo_mixdown():
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        _g711_ulaw_to_linear,
        decode_wav_features,
    )
    import io
    import struct
    import wave

    payload = bytes((i * 37) % 256 for i in range(512))
    got = decode_wav_features(_g711_wav(payload, 0x0007, n_ch=2))
    lin = [_g711_ulaw_to_linear(b) for b in payload]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{len(lin)}h", *lin))
    assert got == decode_wav_features(buf.getvalue())


def _encode_bmp(pixels_rgb, w, h, bpp=24, top_down=False, palette=None):
    """Minimal BMP ENCODER (test-side): BITMAPINFOHEADER, 8-bit
    paletted or 24/32-bit BGR(X), bottom-up by default."""
    import struct

    row_bytes = ((w * bpp + 31) // 32) * 4
    pal_bytes = b""
    if bpp == 8:
        pal_bytes = b"".join(
            bytes([b, g, r, 0]) for r, g, b in palette
        )
    pix = bytearray()
    rows = range(h - 1, -1, -1) if not top_down else range(h)
    for y in rows:
        line = bytearray()
        for x in range(w):
            v = pixels_rgb[y * w + x]
            if bpp == 8:
                line.append(v)
            else:
                r, g, b = v
                line += bytes([b, g, r] + ([0] if bpp == 32 else []))
        line += b"\x00" * (row_bytes - len(line))
        pix += line
    off = 14 + 40 + len(pal_bytes)
    hdr = b"BM" + struct.pack("<IHHI", off + len(pix), 0, 0, off)
    hdr += struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, bpp, 0,
        len(pix), 2835, 2835, len(pal_bytes) // 4, 0,
    )
    return bytes(hdr + pal_bytes + pix)


def test_bmp_stdlib_decode_truecolor_and_paletted():
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_bmp_stdlib

    w, h = 7, 5  # odd width exercises row padding
    pixels = [((x * 40) % 256, (y * 60) % 256, (x + y) % 256) for y in range(h) for x in range(w)]
    expect = round(
        sum((299 * r + 587 * g + 114 * b + 500) // 1000 for r, g, b in pixels)
        / (w * h) / 255.0, 6,
    )
    for bpp in (24, 32):
        for td in (False, True):
            got = decode_bmp_stdlib(_encode_bmp(pixels, w, h, bpp=bpp, top_down=td))
            assert got == (w, h, expect), f"bpp={bpp} top_down={td}"
    palette = [(0, 0, 0), (255, 255, 255), (10, 200, 30)]
    idx = [(x + y) % 3 for y in range(h) for x in range(w)]
    expect_p = round(
        sum(
            (299 * palette[p][0] + 587 * palette[p][1] + 114 * palette[p][2] + 500)
            // 1000
            for p in idx
        )
        / (w * h) / 255.0, 6,
    )
    got = decode_bmp_stdlib(_encode_bmp(idx, w, h, bpp=8, palette=palette))
    assert got == (w, h, expect_p)


def test_bmp_stdlib_rejects_unsupported():
    import struct

    import pytest

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_bmp_stdlib

    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp_stdlib(b"plainbytes")
    # RLE8-compressed header must raise, not mis-decode
    hdr = b"BM" + struct.pack("<IHHI", 200, 0, 0, 54)
    hdr += struct.pack("<IiiHHIIiiII", 40, 4, 4, 1, 8, 1, 0, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="unsupported BMP"):
        decode_bmp_stdlib(hdr + b"\x00" * 64)


def test_wav_unsupported_compressed_tag_raises():
    import struct

    import pytest

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_wav_features

    fmt = struct.pack("<HHIIHH", 0x0055, 1, 8000, 8000, 1, 0)  # MP3 tag
    body = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    riff = b"WAVE" + body
    payload = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(ValueError, match="unsupported WAV format tag"):
        decode_wav_features(payload)


def _encode_gif(indices, w, h, palette, real_lzw=True, mcs=None):
    """Minimal GIF89a ENCODER (test-side, stdlib only): global color
    table + one image, with either a REAL LZW compressor (dictionary
    growth, KwKwK-capable, 12-bit cap with clear codes) or the classic
    'uncompressed' literal-code stream (clear codes before every width
    growth). Exists so the stdlib decoder is exercised against an
    independent implementation of the variable-width LSB-first
    packing."""
    import struct

    n_colors = len(palette) // 3
    depth = max(2, (n_colors - 1).bit_length())
    mcs = mcs or depth
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += bytes(palette) + b"\x00" * (3 * ((1 << depth) - n_colors))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(mcs)

    clear = 1 << mcs
    end = clear + 1
    codes = []
    if real_lzw:
        table = {bytes([i]): i for i in range(clear)}
        next_code = end + 1
        width_limit = 1 << 12
        codes.append(clear)
        cur = b""
        for p in indices:
            nxt = cur + bytes([p])
            if nxt in table:
                cur = nxt
            else:
                codes.append(table[cur])
                if next_code < width_limit:
                    table[nxt] = next_code
                    next_code += 1
                else:
                    codes.append(clear)
                    table = {bytes([i]): i for i in range(clear)}
                    next_code = end + 1
                cur = bytes([p])
        if cur:
            codes.append(table[cur])
        codes.append(end)
        # pack with the decoder-visible width schedule
        bits = bytearray()
        acc = nbits = 0
        width = mcs + 1
        n_entries = end + 1
        for c in codes:
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
            if c == clear:
                n_entries = end + 1
                width = mcs + 1
            elif c != end:
                n_entries += 1
                if n_entries == (1 << width) and width < 12:
                    width += 1
        if nbits:
            bits.append(acc & 0xFF)
    else:
        # literal codes with clear before each would-be width growth
        bits = bytearray()
        acc = nbits = 0
        width = mcs + 1

        def put(c):
            nonlocal acc, nbits
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                bits.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        put(clear)
        n_entries = end + 1
        for p in indices:
            if n_entries + 1 == (1 << width):
                put(clear)
                n_entries = end + 1
            put(p)
            n_entries += 1
        put(end)
        if nbits:
            bits.append(acc & 0xFF)
    for i in range(0, len(bits), 255):
        chunk = bits[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_stdlib_decode_both_lzw_forms():
    """Real-LZW and literal-code GIF streams of the same image must
    both decode to the closed-form mean (palette luma average over the
    known index grid)."""
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_gif_stdlib

    w, h = 37, 19
    palette = [0, 0, 0, 255, 255, 255, 255, 0, 0, 0, 64, 128]
    indices = [(x * 7 + y * 3) % 4 for y in range(h) for x in range(w)]
    luma = [0, 255, (299 * 255 + 500) // 1000, (587 * 64 + 114 * 128 + 500) // 1000]
    expect = round(sum(luma[p] for p in indices) / (w * h) / 255.0, 6)
    for real in (True, False):
        got = decode_gif_stdlib(_encode_gif(indices, w, h, palette, real_lzw=real))
        assert got == (w, h, expect), f"real_lzw={real}"


def test_gif_stdlib_dictionary_growth_and_kwkwk():
    """A long run of one index forces immediate KwKwK codes and
    dictionary growth through several width increases — the classic
    LZW stress shape."""
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_gif_stdlib

    w, h = 120, 40
    palette = [10, 20, 30, 200, 100, 50]
    indices = [0] * (w * h // 2) + [1] * (w * h - w * h // 2)
    luma = [(299 * 10 + 587 * 20 + 114 * 30 + 500) // 1000,
            (299 * 200 + 587 * 100 + 114 * 50 + 500) // 1000]
    expect = round(sum(luma[p] for p in indices) / (w * h) / 255.0, 6)
    got = decode_gif_stdlib(_encode_gif(indices, w, h, palette))
    assert got == (w, h, expect)


def test_gif_stdlib_skips_extensions_and_rejects_garbage(spark):
    import pytest

    from the_framework_for_clustering_time_series_data_spark.operators import multimodal as mm

    w, h = 8, 8
    palette = [0, 0, 0, 255, 255, 255]
    indices = [(x + y) % 2 for y in range(h) for x in range(w)]
    payload = bytearray(_encode_gif(indices, w, h, palette))
    # splice a graphic-control extension before the image descriptor
    idx = payload.index(0x2C)
    payload[idx:idx] = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    got = mm.decode_gif_stdlib(bytes(payload))
    assert got[:2] == (w, h)
    with pytest.raises(ValueError, match="not a GIF"):
        mm.decode_gif_stdlib(b"plainbytes")
    # end-to-end dispatch through Spark without PIL
    df = spark.createDataFrame(
        [(1, bytearray(_encode_gif(indices, w, h, palette)))],
        "doc_id long, payload binary",
    )
    out = mm.decode_image_features(df).collect()
    assert (out[0]["width"], out[0]["height"]) == (w, h)


def _encode_y4m(w, h, frames_yuv):
    """Minimal stdlib Y4M encoder for the parser tests: C420, one
    bytes object of w*h*3//2 per frame."""
    out = bytearray(b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420jpeg\n" % (w, h))
    for f in frames_yuv:
        assert len(f) == w * h * 3 // 2
        out += b"FRAME\n" + f
    return bytes(out)


def test_y4m_stdlib_frame_sampling_values():
    import hashlib

    w, h = 8, 6
    fb = w * h * 3 // 2
    frames = [bytes([i]) * fb for i in range(10)]
    payload = _encode_y4m(w, h, frames)
    digests = multimodal.sample_frames_y4m(payload, n_frames=4)
    # evenly spaced picks: floor(i*10/4) = 0, 2, 5, 7
    want = [hashlib.md5(frames[i]).hexdigest() for i in (0, 2, 5, 7)]
    assert digests == want
    # fewer frames than requested: every distinct frame sampled once
    short = _encode_y4m(w, h, frames[:2])
    assert len(multimodal.sample_frames_y4m(short, n_frames=4)) == 2


def test_y4m_stdlib_rejects_malformed():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a YUV4MPEG2"):
        multimodal.sample_frames_y4m(b"RIFF....")
    with _pytest.raises(ValueError, match="colourspace"):
        multimodal.sample_frames_y4m(b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + b"0" * 12)
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.sample_frames_y4m(b"YUV4MPEG2 W4 H4 C420\nFRAME\n" + b"0" * 5)


def test_y4m_real_path_in_spark_without_ffmpeg(spark):
    """REAL video frame sampling end-to-end in this container: Y4M
    payloads through the mapInPandas kernel with use_real=True."""
    w, h = 4, 4
    fb = w * h * 3 // 2
    payload = _encode_y4m(w, h, [bytes([i * 7]) * fb for i in range(8)])
    df = spark.createDataFrame(
        [(3, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = multimodal.sample_frames(df, n_frames=4, use_real=True).collect()
    assert len(rows) == 4
    assert len({r["frame_md5"] for r in rows}) == 4  # distinct frames
    auto = multimodal.sample_frames(df, n_frames=4).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, rows))


# ---------------------------------------------------------------------------
# stdlib baseline JPEG decoder
# ---------------------------------------------------------------------------


def _encode_jpeg_baseline(planes, sampling=None, quant=None, restart=0):
    """Minimal baseline JPEG ENCODER (test-side, stdlib+numpy only):
    one scan, canonical per-file Huffman tables (all used symbols at
    8 bits — valid canonical tables the decoder must honor, unlike a
    hardcoded Annex K pair), per-component 4:4:4-or-given sampling,
    optional restart interval. Exists so the decoder is exercised
    against an INDEPENDENT implementation of the T.81 bit layout."""
    import math
    import struct

    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import _JPEG_ZIGZAG, _dct_matrix

    ncomp = len(planes)
    sampling = sampling or [(1, 1)] * ncomp
    q = quant or [1] * 64
    h, w = planes[0].shape
    C = _dct_matrix()

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    # per-block symbol stream first (to build the canonical tables)
    def blocks_of(ci):
        hs, vs = sampling[ci]
        ph, pw = planes[ci].shape
        padded = np.zeros((mcuy * vs * 8, mcux * hs * 8))
        padded[:ph, :pw] = planes[ci]
        # replicate edges into padding (keeps DC continuity)
        if ph < padded.shape[0]:
            padded[ph:, :] = padded[ph - 1 : ph, :]
        if pw < padded.shape[1]:
            padded[:, pw:] = padded[:, pw - 1 : pw]
        return padded

    padded = [blocks_of(ci) for ci in range(ncomp)]

    def fdct_quant(block):
        X = C @ (block - 128.0) @ C.T
        out = []
        for k in range(64):
            r, c = _JPEG_ZIGZAG[k]
            out.append(int(round(X[r, c] / q[k])))
        return out

    def csize(v):
        return 0 if v == 0 else int(math.floor(math.log2(abs(v)))) + 1

    # emit (symbol stream, bit payload) per MCU in scan order
    events = []  # (kind 'dc'/'ac', comp, symbol, value_bits_count, value)
    dc_pred = [0] * ncomp
    mcu_events = []
    for my in range(mcuy):
        for mx in range(mcux):
            ev = []
            for ci in range(ncomp):
                hs, vs = sampling[ci]
                for v in range(vs):
                    for u in range(hs):
                        blk = padded[ci][
                            (my * vs + v) * 8 : (my * vs + v) * 8 + 8,
                            (mx * hs + u) * 8 : (mx * hs + u) * 8 + 8,
                        ]
                        coef = fdct_quant(blk)
                        diff = coef[0] - dc_pred[ci]
                        dc_pred[ci] = coef[0]
                        s = csize(diff)
                        ev.append(("dc", ci, s, s, diff))
                        run = 0
                        last_nz = 0
                        for k in range(1, 64):
                            if coef[k]:
                                last_nz = k
                        k = 1
                        while k <= last_nz:
                            if coef[k] == 0:
                                run += 1
                                k += 1
                                continue
                            while run > 15:
                                ev.append(("ac", ci, 0xF0, 0, 0))
                                run -= 16
                            s = csize(coef[k])
                            ev.append(("ac", ci, (run << 4) | s, s, coef[k]))
                            run = 0
                            k += 1
                        if last_nz < 63:
                            ev.append(("ac", ci, 0x00, 0, 0))
            mcu_events.append(ev)
    # restart handling resets DC predictors per interval: recompute
    # diffs if restart is used
    if restart:
        dc_pred = [0] * ncomp
        mcu_events = []
        dc_run = [0] * ncomp
        cnt = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart and cnt and cnt % restart == 0:
                    dc_run = [0] * ncomp
                ev = []
                for ci in range(ncomp):
                    hs, vs = sampling[ci]
                    for v in range(vs):
                        for u in range(hs):
                            blk = padded[ci][
                                (my * vs + v) * 8 : (my * vs + v) * 8 + 8,
                                (mx * hs + u) * 8 : (mx * hs + u) * 8 + 8,
                            ]
                            coef = fdct_quant(blk)
                            diff = coef[0] - dc_run[ci]
                            dc_run[ci] = coef[0]
                            s = csize(diff)
                            ev.append(("dc", ci, s, s, diff))
                            run = 0
                            last_nz = 0
                            for k in range(1, 64):
                                if coef[k]:
                                    last_nz = k
                            k = 1
                            while k <= last_nz:
                                if coef[k] == 0:
                                    run += 1
                                    k += 1
                                    continue
                                while run > 15:
                                    ev.append(("ac", ci, 0xF0, 0, 0))
                                    run -= 16
                                s = csize(coef[k])
                                ev.append(("ac", ci, (run << 4) | s, s, coef[k]))
                                run = 0
                                k += 1
                            if last_nz < 63:
                                ev.append(("ac", ci, 0x00, 0, 0))
                mcu_events.append(ev)
                cnt += 1

    dc_syms = sorted({e[2] for ev in mcu_events for e in ev if e[0] == "dc"})
    ac_syms = sorted({e[2] for ev in mcu_events for e in ev if e[0] == "ac"})

    def canon8(symbols):
        # all symbols at code length 8 — canonical codes 0..k-1
        codes = {sym: (8, i) for i, sym in enumerate(symbols)}
        counts = [0] * 16
        counts[7] = len(symbols)
        return codes, counts, list(symbols)

    dc_codes, dc_counts, dc_vals = canon8(dc_syms)
    ac_codes, ac_counts, ac_vals = canon8(ac_syms)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, 0) + bytes(q)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, (sampling[ci][0] << 4) | sampling[ci][1], 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, counts, vals in ((0, dc_counts, dc_vals), (1, ac_counts, ac_vals)):
        seg = bytes([tc << 4]) + bytes(counts) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # bit writer with 0xFF stuffing
    acc, nbits = 0, 0
    body = bytearray()

    def put(val, k):
        nonlocal acc, nbits
        for i in range(k - 1, -1, -1):
            acc = (acc << 1) | ((val >> i) & 1)
            nbits += 1
            if nbits == 8:
                body.append(acc)
                if acc == 0xFF:
                    body.append(0x00)
                acc, nbits = 0, 0

    def flush():
        nonlocal acc, nbits
        if nbits:
            acc <<= 8 - nbits
            acc |= (1 << (8 - nbits)) - 1  # pad with 1s per convention
            body.append(acc)
            if acc == 0xFF:
                body.append(0x00)
            acc, nbits = 0, 0

    for i, ev in enumerate(mcu_events):
        if restart and i and i % restart == 0:
            flush()
            body.extend(bytes([0xFF, 0xD0 + ((i // restart - 1) % 8)]))
        for kind, _ci, sym, nb, val in ev:
            ln, code = (dc_codes if kind == "dc" else ac_codes)[sym]
            put(code, ln)
            if nb:
                put(val if val >= 0 else val + (1 << nb) - 1, nb)
    flush()
    out += body + b"\xff\xd9"
    return bytes(out)


def test_jpeg_stdlib_flat_exact():
    """DC-only ground truth: a flat gray image has a closed-form code
    stream (one DC coefficient per block, zero AC), and the decode must
    return the EXACT gray level — independent of the encoder's DCT."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    img = np.full((16, 24), 100.0)
    payload = _encode_jpeg_baseline([img])
    w, h, mean = decode_jpeg_stdlib(payload)
    assert (w, h) == (24, 16)
    assert abs(mean - 100.0 / 255.0) < 1e-6


def test_jpeg_stdlib_gradient_roundtrip():
    """Unit quantization: the only loss is FDCT rounding, so the
    decoded mean must match the source within ~1 gray level, across a
    non-multiple-of-8 size (exercises edge-MCU cropping)."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    yy, xx = np.meshgrid(np.arange(19), np.arange(37), indexing="ij")
    img = (xx * 5 + yy * 3) % 256
    payload = _encode_jpeg_baseline([img.astype(float)])
    w, h, mean = decode_jpeg_stdlib(payload)
    assert (w, h) == (37, 19)
    assert abs(mean - img.mean() / 255.0) < 1.5 / 255.0


def test_jpeg_stdlib_color_and_restart():
    """Three-component 4:4:4 with a restart interval: chroma blocks
    must be entropy-skipped in sync and RSTn markers honored (DC
    predictors reset), leaving the luma mean intact."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    yy = np.tile(np.linspace(40, 200, 16)[:, None], (1, 16))
    cb = np.full((16, 16), 90.0)
    cr = np.full((16, 16), 160.0)
    payload = _encode_jpeg_baseline([yy, cb, cr], restart=1)
    w, h, mean = decode_jpeg_stdlib(payload)
    assert (w, h) == (16, 16)
    assert abs(mean - yy.mean() / 255.0) < 1.5 / 255.0


def _encode_jpeg_progressive(planes, quant=None, scans=None, restart=0,
                             sampling=None):
    """Minimal PROGRESSIVE JPEG encoder (test-side, stdlib+numpy only):
    spectral-selection + successive-approximation scans per T.81 G.1
    with the libjpeg encoder disciplines (DC point transform =
    arithmetic shift, AC = magnitude shift; EOB-run accumulation;
    AC-refinement correction bits buffered and emitted after the next
    symbol / carried with the EOB run). Supports per-component
    ``sampling`` factors: DC scans interleave over the MCU-padded
    grid, AC scans iterate each component's OWN (non-interleaved)
    block grid — the two grid shapes the decoder must distinguish.
    Canonical per-scan Huffman tables, optional DRI restart markers in
    every scan. Exists so the progressive decoder is exercised against
    an INDEPENDENT implementation of the scan layout — and
    cross-checked against the (already-validated) baseline path on
    identical coefficients."""
    import math
    import struct

    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import _JPEG_ZIGZAG, _dct_matrix

    ncomp = len(planes)
    sampling = sampling or [(1, 1)] * ncomp
    q = quant or [1] * 64
    h, w = planes[0].shape
    C = _dct_matrix()
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))

    def padded(ci):
        hs, vs = sampling[ci]
        ph, pw = planes[ci].shape
        P = np.zeros((mcuy * vs * 8, mcux * hs * 8))
        P[:ph, :pw] = planes[ci]
        if ph < P.shape[0]:
            P[ph:, :] = P[ph - 1 : ph, :]
        if pw < P.shape[1]:
            P[:, pw:] = P[:, pw - 1 : pw]
        return P

    def csize(v):
        return 0 if v == 0 else int(math.floor(math.log2(abs(v)))) + 1

    coefs = []
    for ci in range(ncomp):
        hs, vs = sampling[ci]
        P = padded(ci)
        gh, gw = mcuy * vs, mcux * hs
        comp = [[None] * gw for _ in range(gh)]
        for by in range(gh):
            for bx in range(gw):
                blk = P[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                X = C @ (blk - 128.0) @ C.T
                comp[by][bx] = [
                    int(round(X[_JPEG_ZIGZAG[k]] / q[k])) for k in range(64)
                ]
        coefs.append(comp)

    def ni_grid(ci):
        """Non-interleaved block grid (the component's own)."""
        hs, vs = sampling[ci]
        cw = -(-w * hs // hmax)
        ch = -(-h * vs // vmax)
        return -(-ch // 8), -(-cw // 8)

    if scans is None:
        scans = [(list(range(ncomp)), 0, 0, 0, 1),
                 (list(range(ncomp)), 0, 0, 1, 0)]
        for ci in range(ncomp):
            scans += [([ci], 1, 5, 0, 1), ([ci], 6, 63, 0, 1),
                      ([ci], 1, 5, 1, 0), ([ci], 6, 63, 1, 0)]

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 2 + 1 + 64, 0) + bytes(q)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, (sampling[ci][0] << 4) | sampling[ci][1], 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    if restart:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart)

    for comps_s, Ss, Se, Ah, Al in scans:
        items = []  # ("sym", cls, symbol) | ("raw", value, nbits) | ("rst",)
        if Ss == 0:  # DC scan
            pred = {ci: 0 for ci in comps_s}
            cnt = 0
            if len(comps_s) > 1:  # interleaved: MCU order, all blocks
                units = []
                for my in range(mcuy):
                    for mx in range(mcux):
                        unit = []
                        for ci in comps_s:
                            hs, vs = sampling[ci]
                            for v in range(vs):
                                for u in range(hs):
                                    unit.append((ci, my * vs + v, mx * hs + u))
                        units.append(unit)
            else:  # single component: its own grid, one block per unit
                ci0 = comps_s[0]
                hb, wb = ni_grid(ci0)
                units = [
                    [(ci0, by, bx)] for by in range(hb) for bx in range(wb)
                ]
            for unit in units:
                if restart and cnt and cnt % restart == 0:
                    items.append(("rst",))
                    pred = {ci: 0 for ci in comps_s}
                cnt += 1
                for ci, by, bx in unit:
                    c0 = coefs[ci][by][bx][0]
                    if Ah == 0:
                        v = c0 >> Al  # arithmetic shift (T.81 DC PT)
                        diff = v - pred[ci]
                        pred[ci] = v
                        s = csize(diff)
                        items.append(("sym", "dc", s))
                        if s:
                            items.append(
                                ("raw",
                                 diff if diff >= 0 else diff + (1 << s) - 1,
                                 s)
                            )
                    else:  # refinement: one raw bit, no Huffman
                        items.append(("raw", (c0 >> Al) & 1, 1))
        else:  # AC scan: single component
            ci = comps_s[0]
            hb, wb = ni_grid(ci)
            eobrun = 0
            BE = []  # correction bits carried with the pending EOB run

            def flush_eob():
                nonlocal eobrun, BE
                if eobrun > 0:
                    nb = eobrun.bit_length() - 1
                    items.append(("sym", "ac", nb << 4))
                    if nb:
                        items.append(("raw", eobrun - (1 << nb), nb))
                    for b in BE:
                        items.append(("raw", b, 1))
                    eobrun, BE = 0, []

            cnt = 0
            for by in range(hb):
                for bx in range(wb):
                    if restart and cnt and cnt % restart == 0:
                        flush_eob()
                        items.append(("rst",))
                    cnt += 1
                    band = coefs[ci][by][bx][Ss : Se + 1]
                    if Ah == 0:  # first pass: magnitude point transform
                        vals = [
                            (abs(t) >> Al) * (1 if t >= 0 else -1) for t in band
                        ]
                        last = -1
                        for i, v in enumerate(vals):
                            if v:
                                last = i
                        if last < 0:
                            eobrun += 1
                            if eobrun == 0x7FFF:
                                flush_eob()
                            continue
                        flush_eob()
                        run = 0
                        for i in range(last + 1):
                            v = vals[i]
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                items.append(("sym", "ac", 0xF0))
                                run -= 16
                            s = csize(v)
                            items.append(("sym", "ac", (run << 4) | s))
                            items.append(
                                ("raw", v if v >= 0 else v + (1 << s) - 1, s)
                            )
                            run = 0
                        if last < Se - Ss:
                            eobrun += 1
                            if eobrun == 0x7FFF:
                                flush_eob()
                    else:  # refinement (jcphuff encode_mcu_AC_refine)
                        absv = [abs(t) >> Al for t in band]
                        eobpos = -1
                        for i, a in enumerate(absv):
                            if a == 1:
                                eobpos = i
                        r, BR = 0, []
                        for i, a in enumerate(absv):
                            if a == 0:
                                r += 1
                                continue
                            # Emit pending ZRLs BEFORE the history test
                            # (jcphuff): a deferred ZRL would reorder the
                            # correction bits the decoder reads during
                            # its ZRL walk. Not emitted past the last
                            # newly-visible coef (folds into the EOB).
                            while r > 15 and i <= eobpos:
                                flush_eob()
                                items.append(("sym", "ac", 0xF0))
                                for b in BR:
                                    items.append(("raw", b, 1))
                                BR = []
                                r -= 16
                            if a > 1:  # history-nonzero: correction bit
                                BR.append(a & 1)
                                continue
                            # newly visible (a == 1)
                            flush_eob()
                            items.append(("sym", "ac", (r << 4) | 1))
                            items.append(
                                ("raw", 1 if band[i] > 0 else 0, 1)
                            )
                            for b in BR:
                                items.append(("raw", b, 1))
                            BR = []
                            r = 0
                        if r > 0 or BR:
                            eobrun += 1
                            BE.extend(BR)
                            if eobrun == 0x7FFF:
                                flush_eob()
            flush_eob()

        dcsyms = sorted({it[2] for it in items if it[0] == "sym" and it[1] == "dc"})
        acsyms = sorted({it[2] for it in items if it[0] == "sym" and it[1] == "ac"})
        codes = {}
        for cls, syms in (("dc", dcsyms), ("ac", acsyms)):
            if syms:
                codes[cls] = {s: (8, i) for i, s in enumerate(syms)}
                counts = [0] * 16
                counts[7] = len(syms)
                seg = bytes([(0 if cls == "dc" else 1) << 4]) + bytes(counts) + bytes(syms)
                out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
        sos = bytes([len(comps_s)])
        for ci in comps_s:
            sos += bytes([ci + 1, 0x00])
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

        acc, nbits = 0, 0
        body = bytearray()

        def put(val, k):
            nonlocal acc, nbits
            for i in range(k - 1, -1, -1):
                acc = (acc << 1) | ((val >> i) & 1)
                nbits += 1
                if nbits == 8:
                    body.append(acc)
                    if acc == 0xFF:
                        body.append(0x00)
                    acc, nbits = 0, 0

        def flush_bits():
            nonlocal acc, nbits
            if nbits:
                acc <<= 8 - nbits
                acc |= (1 << (8 - nbits)) - 1
                body.append(acc)
                if acc == 0xFF:
                    body.append(0x00)
                acc, nbits = 0, 0

        rst_n = 0
        for it in items:
            if it[0] == "rst":
                flush_bits()
                body.extend(bytes([0xFF, 0xD0 + (rst_n % 8)]))
                rst_n += 1
            elif it[0] == "sym":
                ln, code = codes[it[1]][it[2]]
                put(code, ln)
            else:
                put(it[1], it[2])
        flush_bits()
        out += body
    out += b"\xff\xd9"
    return bytes(out)


def _wav_payload(samples_ints, sr=8000):
    """16-bit mono WAV from signed ints (stdlib wave module)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(struct.pack(f"<{len(samples_ints)}h", *samples_ints))
    return buf.getvalue()


def _flac_test_wave(n=1000, amp=9000):
    """Deterministic integer test signal with nonzero 2nd differences
    (so FIXED-order residuals are non-trivial)."""
    return [
        int(amp * (((i * i * 7 + i * 31) % 997) - 498) / 498) for i in range(n)
    ]


def test_flac_stdlib_fixed_rice_matches_wav():
    """FLAC FIXED-order-2 + rice residuals must decode to EXACTLY the
    features of the same PCM through the (independently validated) WAV
    path — lossless codec, identical samples, identical feature math."""
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        decode_flac_features,
        decode_wav_features,
    )

    pcm = _flac_test_wave()
    ref = decode_wav_features(_wav_payload(pcm))
    got = decode_flac_features(_encode_flac([pcm], subframe="fixed2"))
    assert got == ref
    assert got[1] == 8000 and got[0] == round(len(pcm) / 8000, 3)


def test_flac_stdlib_partitions_escape_and_192():
    """Rice partition order 2, escape partitions, and the 192-sample
    blocksize code all reconstruct the exact samples."""
    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        decode_flac_features,
        decode_wav_features,
    )

    pcm = _flac_test_wave(n=768)
    ref = decode_wav_features(_wav_payload(pcm))
    for kwargs in (
        dict(subframe="fixed1", partition_order=2),
        dict(subframe="fixed2", escape=True),
        dict(subframe="verbatim", bs_code_192=True),
        dict(subframe="lpc"),
        dict(subframe="lpc", partition_order=1, escape=True),
    ):
        got = decode_flac_features(_encode_flac([pcm], **kwargs))
        assert got == ref, kwargs


def test_flac_stdlib_stereo_midside_and_constant():
    """Mid/side stereo decorrelation and CONSTANT subframes: the
    decoded mixdown must equal the WAV path's mean-mixdown of the same
    two channels."""
    import io
    import struct
    import wave

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        decode_flac_features,
        decode_wav_features,
    )

    left = _flac_test_wave(n=512, amp=8000)
    right = [v // 3 for v in _flac_test_wave(n=512, amp=6000)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        inter = [x for pair in zip(left, right) for x in pair]
        w.writeframes(struct.pack(f"<{len(inter)}h", *inter))
    ref = decode_wav_features(buf.getvalue())
    got = decode_flac_features(
        _encode_flac([left, right], midside=True, subframe="fixed2")
    )
    assert got == ref
    # constant subframes (flat channels)
    flat = [1234] * 512
    ref2 = decode_wav_features(_wav_payload(flat))
    got2 = decode_flac_features(_encode_flac([flat], subframe="constant"))
    assert got2 == ref2


def test_flac_real_path_in_spark_without_soundfile(spark):
    """A FLAC payload flows through extract_audio_features'
    auto-dispatch end to end (stdlib decode on executors)."""
    from the_framework_for_clustering_time_series_data_spark.operators import multimodal as mm

    pcm = _flac_test_wave(n=800)
    payload = _encode_flac([pcm], subframe="fixed2")
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    out = mm.extract_audio_features(df, use_real=True).collect()
    assert len(out) == 1
    r = out[0]
    ref = mm.decode_flac_features(payload)
    assert (r["duration_s"], r["sample_rate"], r["peak_dbfs"]) == ref[:3]
    assert list(r["rms_envelope"]) == ref[3]


def test_flac_stdlib_rejects_garbage():
    import pytest

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_flac_features

    with pytest.raises(ValueError, match="not a FLAC"):
        decode_flac_features(b"plainbytes")
    with pytest.raises(ValueError):
        decode_flac_features(b"fLaC\x00\x00\x00")


def test_jpeg_stdlib_progressive_matches_baseline():
    """Full progressive script (DC first + DC refine + banded AC first
    + AC refine, Al 1 → 0) must decode to EXACTLY the baseline path's
    mean on the same image and quant table — the scans reconstruct the
    identical coefficient array, and the baseline path is already
    validated against an independent encoder."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    yy, xx = np.meshgrid(np.arange(19), np.arange(37), indexing="ij")
    img = ((xx * 5 + yy * 3) % 256).astype(float)
    base = decode_jpeg_stdlib(_encode_jpeg_baseline([img]))
    prog = decode_jpeg_stdlib(_encode_jpeg_progressive([img]))
    assert prog == base
    assert (prog[0], prog[1]) == (37, 19)


def test_jpeg_stdlib_progressive_spectral_only():
    """Spectral selection without successive approximation (Al = 0
    everywhere, three AC bands → EOB runs across band-empty blocks)
    also reconstructs the exact baseline coefficients."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(24, 17)).astype(float)
    scans = [([0], 0, 0, 0, 0), ([0], 1, 2, 0, 0), ([0], 3, 20, 0, 0),
             ([0], 21, 63, 0, 0)]
    base = decode_jpeg_stdlib(_encode_jpeg_baseline([img]))
    prog = decode_jpeg_stdlib(_encode_jpeg_progressive([img], scans=scans))
    assert prog == base


def test_jpeg_stdlib_progressive_420_subsampling():
    """Progressive with 4:2:0 sampling: the interleaved DC scan walks
    the MCU-padded grid (4 luma blocks per MCU) while AC scans walk
    each component's OWN non-interleaved grid — the luma mean must
    equal the baseline path's exactly."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    yy, xx = np.meshgrid(np.arange(19), np.arange(37), indexing="ij")
    luma = ((xx * 5 + yy * 3) % 256).astype(float)
    cb = np.full((10, 19), 90.0)
    cr = ((np.arange(10)[:, None] + np.arange(19)[None, :]) * 9 % 256).astype(float)
    sampling = [(2, 2), (1, 1), (1, 1)]
    base = decode_jpeg_stdlib(
        _encode_jpeg_baseline([luma, cb, cr], sampling=sampling)
    )
    prog = decode_jpeg_stdlib(
        _encode_jpeg_progressive([luma, cb, cr], sampling=sampling)
    )
    assert prog == base
    assert (prog[0], prog[1]) == (37, 19)


def test_jpeg_stdlib_progressive_color_and_restart():
    """Three-component progressive with a restart interval: interleaved
    DC scan + per-component AC scans, RSTn markers inside every scan
    (DC predictors and EOB runs reset); luma mean must equal the
    baseline path's exactly."""
    import numpy as np

    yy = np.tile(np.linspace(40, 200, 16)[:, None], (1, 16))
    cb = np.full((16, 16), 90.0)
    cr = np.full((16, 16), 160.0)

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    base = decode_jpeg_stdlib(_encode_jpeg_baseline([yy, cb, cr]))
    prog = decode_jpeg_stdlib(
        _encode_jpeg_progressive([yy, cb, cr], restart=2)
    )
    assert prog == base


def test_jpeg_stdlib_progressive_random_scripts_fuzz():
    """Randomized progressive scan scripts (random AC band partitions,
    random successive-approximation depths per band, random scan
    interleavings, random odd image sizes) must ALL reconstruct the
    exact baseline coefficients — the scan machinery is script-shape
    independent."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    for seed in range(6):
        rng = np.random.default_rng(100 + seed)
        h = int(rng.integers(9, 40))
        w = int(rng.integers(9, 40))
        img = rng.integers(0, 256, size=(h, w)).astype(float)
        ncuts = int(rng.integers(0, 4))
        cuts = sorted(int(c) for c in rng.choice(np.arange(2, 63), size=ncuts, replace=False))
        lows = [1] + cuts
        highs = [c - 1 for c in cuts] + [63]
        dc_al = int(rng.integers(0, 3))
        dc_chain = [([0], 0, 0, 0, dc_al)] + [
            ([0], 0, 0, al, al - 1) for al in range(dc_al, 0, -1)
        ]
        chains = []
        for lo, hi in zip(lows, highs):
            b_al = int(rng.integers(0, 3))
            chain = [([0], lo, hi, 0, b_al)] + [
                ([0], lo, hi, al, al - 1) for al in range(b_al, 0, -1)
            ]
            chains.append(chain)
        # random interleave of the per-band chains (order within a
        # chain preserved; DC chain always first per T.81)
        scans = list(dc_chain)
        while any(chains):
            pick = int(rng.integers(0, len(chains)))
            if chains[pick]:
                scans.append(chains[pick].pop(0))
            chains = [c for c in chains if c]
        base = decode_jpeg_stdlib(_encode_jpeg_baseline([img]))
        prog = decode_jpeg_stdlib(_encode_jpeg_progressive([img], scans=scans))
        assert prog == base, f"seed {seed}: {scans}"


def test_flac_stdlib_random_options_fuzz():
    """Randomized signals × encoder options (subframe type, partition
    order, escape coding, mid/side) must all round-trip to the exact
    WAV-path features."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import (
        decode_flac_features,
        decode_wav_features,
    )

    for seed in range(6):
        rng = np.random.default_rng(200 + seed)
        n = int(rng.integers(2, 5)) * 256
        walk = np.cumsum(rng.integers(-500, 501, size=n))
        pcm = [int(v) for v in np.clip(walk, -30000, 30000)]
        sub = ["fixed0", "fixed1", "fixed2", "verbatim"][int(rng.integers(0, 4))]
        po = int(rng.integers(0, 3))
        esc = bool(rng.integers(0, 2))
        stereo = bool(rng.integers(0, 2))
        if stereo:
            import io
            import struct
            import wave

            right = [int(v) for v in np.clip(walk // 2 + 100, -30000, 30000)]
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wv:
                wv.setnchannels(2)
                wv.setsampwidth(2)
                wv.setframerate(8000)
                inter = [x for pair in zip(pcm, right) for x in pair]
                wv.writeframes(struct.pack(f"<{len(inter)}h", *inter))
            ref = decode_wav_features(buf.getvalue())
            got = decode_flac_features(
                _encode_flac([pcm, right], midside=True, subframe=sub,
                             partition_order=po, escape=esc)
            )
        else:
            ref = decode_wav_features(_wav_payload(pcm))
            got = decode_flac_features(
                _encode_flac([pcm], subframe=sub, partition_order=po, escape=esc)
            )
        assert got == ref, f"seed {seed}: {sub} po={po} esc={esc} stereo={stereo}"


def test_jpeg_stdlib_rejects_arithmetic_and_garbage():
    import struct

    import pytest

    from the_framework_for_clustering_time_series_data_spark.operators.multimodal import decode_jpeg_stdlib

    fake = (
        b"\xff\xd8"
        + b"\xff\xc9"  # SOF9 — arithmetic sequential
        + struct.pack(">H", 11)
        + struct.pack(">BHHB", 8, 8, 8, 1)
        + bytes([1, 0x11, 0])
        + b"\xff\xd9"
    )
    with pytest.raises(ValueError, match="arithmetic"):
        decode_jpeg_stdlib(fake)
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg_stdlib(b"plainbytes")


def test_jpeg_real_path_in_spark_without_pil(spark):
    """Baseline AND progressive JPEG payloads flow through
    decode_image_features' auto-dispatch end to end (stdlib decode on
    executors, no PIL)."""
    import numpy as np

    from the_framework_for_clustering_time_series_data_spark.operators import multimodal as mm

    img = np.full((8, 8), 50.0)
    payload = _encode_jpeg_baseline([img])
    prog = _encode_jpeg_progressive([img])
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(prog))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in mm.decode_image_features(df).collect()}
    assert len(out) == 2
    for r in out.values():
        assert (r["width"], r["height"]) == (8, 8)
        assert abs(r["mean_intensity"] - 50.0 / 255.0) < 1e-6


# ---------------------------------------------------------------- phash


def test_png_gray_encode_decode_roundtrip():
    """encode_png_gray → decode_png_luma is the identity on pixels
    (gray luma IS the raw byte), for filter-0 scanlines of any size."""
    px = bytes((i * 37 + 11) % 256 for i in range(9 * 8))
    payload = multimodal.encode_png_gray(px, 9, 8)
    w, h, grid = multimodal.decode_png_luma(payload)
    assert (w, h) == (9, 8)
    assert [v for row in grid for v in row] == list(px)


def test_dhash_ahash_kernels_known_values():
    """Hand-computed hashes on tiny grids: dHash of a strictly
    increasing row grid is all zeros (left never > right); of a
    strictly decreasing one, all ones (-1 signed). aHash of a
    half-dark/half-bright 8×8 is the expected sign split."""
    inc = [[c * 10 for c in range(9)] for _ in range(8)]
    dec = [[(8 - c) * 10 for c in range(9)] for _ in range(8)]
    assert multimodal.dhash64_from_luma(inc, 9, 8) == 0
    assert multimodal.dhash64_from_luma(dec, 9, 8) == -1
    half = [[0] * 8 for _ in range(4)] + [[200] * 8 for _ in range(4)]
    # bottom 32 bits set (px >= mean only in the bright half):
    # 0x00000000FFFFFFFF
    assert multimodal.ahash64_from_luma(half, 8, 8) == 0xFFFFFFFF


def test_box_mean_downscale_exact():
    """Area downscale is the exact floor box mean, including uneven
    box edges (w % tw != 0)."""
    grid = [[r * 10 + c for c in range(10)] for r in range(4)]
    out = multimodal._box_mean_downscale(grid, 10, 4, 5, 2)
    # box (0,0): rows 0-1, cols 0-1 → mean of [0,1,10,11] = 5
    assert out[0][0] == 5
    assert len(out) == 2 and len(out[0]) == 5
    # 9→8 uneven split keeps exactness (floor semantics)
    g2 = [[c * 3 for c in range(9)] for _ in range(8)]
    o2 = multimodal._box_mean_downscale(g2, 9, 8, 8, 8)
    assert all(len(row) == 8 for row in o2)


def test_phash_neardup_planted_recall_with_downscale(spark):
    """The FULL pipeline at a size that exercises the area-downscale
    path (36×32 → 9×8): planted near-duplicates (same image, small
    local perturbation) are recovered by the banded join; unrelated
    random images are not collapsed."""
    import hashlib

    def img_bytes(seed: str) -> bytearray:
        raw = b"".join(
            hashlib.sha256(f"{seed}:{k}".encode()).digest() for k in range(36)
        )
        return bytearray(raw[: 36 * 32])

    rows = []
    for i in range(20):
        base = img_bytes(f"img{i}")
        rows.append((2 * i, bytes(multimodal.encode_png_gray(base, 36, 32))))
        near = bytearray(base)
        # perturb one 4x4 box slightly — survives the box mean with a
        # small delta, flips at most a couple of dHash bits
        for dy in range(4):
            for dx in range(4):
                j = (8 + dy) * 36 + (12 + dx)
                near[j] = min(255, near[j] + 9)
        rows.append((2 * i + 1, bytes(multimodal.encode_png_gray(near, 36, 32))))
    df = spark.createDataFrame(rows, "image_id long, payload binary")
    hashes = multimodal.image_phash(df)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.hamming_pairs(
            hashes, id_col="image_id", lanes=("dhash",), bands=4, max_hamming=3
        ).collect()
    }
    planted = {(2 * i, 2 * i + 1) for i in range(20)}
    assert planted <= pairs, planted - pairs  # every planted pair found
    assert pairs == planted, pairs - planted  # no unrelated collapse


def test_phash_pigeonhole_requires_valid_threshold(spark):
    import pytest

    df = spark.createDataFrame([(0, 0)], "image_id long, dhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.hamming_pairs(
            df, id_col="image_id", lanes=("dhash",), bands=4, max_hamming=4
        )


def test_y4m_synthesis_parses_and_plants_3of4(spark):
    """synthesize_y4m_variants emits REAL Y4M that the stdlib parser
    walks (header, FRAME markers, 96-byte frames); the planted variant
    shares exactly 3 of the 4 sampled digests with its original."""
    docs = load_table(spark, SF_SMALL, "documents").limit(5)
    clips = multimodal.synthesize_y4m_variants(docs, n_variants=2)
    frames = multimodal.sample_frames(
        clips, n_frames=4, id_col="video_id", use_real=True
    ).collect()
    by_vid: dict[int, dict[int, str]] = {}
    for r in frames:
        by_vid.setdefault(r["video_id"], {})[r["frame_idx"]] = r["frame_md5"]
    assert all(len(v) == 4 for v in by_vid.values())
    for vid in [v for v in by_vid if v % 2 == 0]:
        shared = sum(
            by_vid[vid][i] == by_vid[vid + 1][i] for i in range(4)
        )
        assert shared == 3, vid


def test_video_neardup_pairs_threshold(spark):
    """Pairs below the shared-frame threshold are dropped; position
    alignment is enforced (same digest at a DIFFERENT position does
    not count)."""
    rows = [
        # videos 0/1: share positions 0,1,2 -> pair at n_shared=3
        *[(0, i, f"d{i}") for i in range(4)],
        *[(1, i, f"d{i}" if i < 3 else "x3") for i in range(4)],
        # video 2: same digests but shifted one position -> no pair
        *[(2, i, f"d{i - 1}") for i in range(1, 4)],
        (2, 0, "y0"),
    ]
    df = spark.createDataFrame(rows, "video_id long, frame_idx int, frame_md5 string")
    got = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in multimodal.video_neardup_pairs(df, min_shared=3).collect()
    }
    assert got == {(0, 1, 3)}


def test_afp64_kernel_known_values():
    """Hand-checked fingerprints: strictly increasing window energies
    → all ones (-1 signed); strictly decreasing → 0; a flat signal →
    0 (ties are not >)."""
    inc = [j for w in range(65) for j in [w] * 8]  # energy grows with w
    dec = [j for w in range(65) for j in [64 - w] * 8]
    flat = [5] * 520
    assert multimodal.afp64_from_samples(inc) == -1
    assert multimodal.afp64_from_samples(dec) == 0
    assert multimodal.afp64_from_samples(flat) == 0
    import pytest

    with pytest.raises(ValueError, match="65 windows"):
        multimodal.afp64_from_samples(flat, n_windows=64)


def test_wav_synthesis_roundtrip_and_planted_hamming(spark):
    """synthesize_wav_variants emits REAL WAV containers the stdlib
    path parses back to the exact md5 sample bytes; the planted
    variant's fingerprint sits within Hamming 2 of its original and
    is found by the banded join."""
    docs = load_table(spark, SF_SMALL, "documents").limit(10)
    clips = multimodal.synthesize_wav_variants(docs, n_variants=2)
    one = clips.orderBy("audio_id").limit(1).collect()[0]
    rate, width, samples = multimodal.decode_wav_samples(bytes(one["payload"]))
    assert (rate, width, len(samples)) == (multimodal.AUDIO_SYNTH_RATE, 1, 520)

    fps = multimodal.audio_fingerprint(clips)
    pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.hamming_pairs(
            fps, id_col="audio_id", lanes=("afp",), bands=4, max_hamming=3
        ).collect()
    }
    ids = sorted({p[0] for p in pairs} | {p[1] for p in pairs})
    # derive the expected pair set from the ACTUAL synthesized ids —
    # limit(10) without orderBy guarantees nothing about which doc_ids
    # arrive, only how many (round-8 advice: hard-coding range(10)
    # flakes on a scan-order change)
    clip_ids = sorted(r["audio_id"] for r in clips.select("audio_id").collect())
    originals = [i for i in clip_ids if i % 2 == 0]
    assert len(clip_ids) == 20
    assert {(a, b) for a, b, _ in pairs} == {
        (i, i + 1) for i in originals
    }, pairs
    assert all(h <= 2 for _, _, h in pairs)
    assert len(ids) == 20


def test_phash_banding_equals_brute_force(spark):
    """Pigeonhole exactness, adversarially: 200 seeded 64-bit hashes
    plus crafted pairs at EVERY Hamming distance 0..5 (including bit
    flips straddling band boundaries). The banded join's result must
    equal a Python brute force exactly — pairs at distance ≤ 3 all
    found, pairs at 4..5 (which can evade every band) all excluded by
    the verify filter even when a band matches."""
    import hashlib

    def h64(s: str) -> int:
        v = int(hashlib.md5(s.encode()).hexdigest()[:16], 16)
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [(i, h64(f"base{i}")) for i in range(200)]
    nxt = 200
    # crafted: for d in 0..5, a twin of base{d} with d bits flipped,
    # spread across bands (bits 3, 19, 35, 51, 60 live in 4 bands)
    flip_bits = [3, 19, 35, 51, 60]
    for d in range(6):
        v = rows[d][1]
        for b in flip_bits[:d]:
            v ^= 1 << b
        rows.append((nxt, v))
        nxt += 1
    df = spark.createDataFrame(rows, "image_id long, dhash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.hamming_pairs(
            df, id_col="image_id", lanes=("dhash",), bands=4, max_hamming=3
        ).collect()
    }
    mask = (1 << 64) - 1
    expect = set()
    vals = dict(rows)
    ids = sorted(vals)
    for i_pos, a in enumerate(ids):
        for b in ids[i_pos + 1 :]:
            ham = bin((vals[a] ^ vals[b]) & mask).count("1")
            if ham <= 3:
                expect.add((a, b, ham))
    assert got == expect
    # the crafted twins at d<=3 are present, d>=4 absent
    assert {(0, 200, 0), (1, 201, 1), (2, 202, 2), (3, 203, 3)} <= got
    assert not any(b in (204, 205) for _, b, _ in got)


def test_phash_small_images_hash_deterministically():
    """Images smaller than the hash geometry (review finding: empty
    floor-partition boxes divided by zero) clamp to nearest-neighbor
    boxes instead of crashing — a 5×5 or 1×1 thumbnail hashes."""
    px = bytes(range(25))
    w, h, grid = multimodal.decode_png_luma(multimodal.encode_png_gray(px, 5, 5))
    d1 = multimodal.dhash64_from_luma(grid, w, h)
    a1 = multimodal.ahash64_from_luma(grid, w, h)
    assert isinstance(d1, int) and isinstance(a1, int)
    # deterministic: same input, same hash
    assert d1 == multimodal.dhash64_from_luma(grid, w, h)
    one = [[128]]
    assert multimodal.dhash64_from_luma(one, 1, 1) == 0  # flat → no bits


def test_phash128_wide_banding_equals_brute_force(spark):
    """Pigeonhole exactness for the 128-bit two-lane form (round-9
    verdict ask #3), adversarially: 200 seeded (dhash, ahash) lane
    pairs plus crafted twins at EVERY summed Hamming distance 0..5,
    with flips split ACROSS lanes and straddling 32-bit band
    boundaries. The wide banded join must equal a Python brute force
    over the summed lane distance exactly — ≤ 3 all found, 4..5 all
    excluded even when a band matches (a twin with both flips in lane
    0 leaves every lane-1 band equal, so candidates at distance > 3
    ARE generated and must die in the verify filter)."""
    import hashlib

    def h64(s: str) -> int:
        v = int(hashlib.md5(s.encode()).hexdigest()[:16], 16)
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = [(i, h64(f"d{i}"), h64(f"a{i}")) for i in range(200)]
    nxt = 200
    # flips alternate lanes and straddle the 32-bit band boundary
    # (bit 31 / bit 32 of each lane): (lane, bit)
    flips = [(0, 31), (1, 32), (0, 60), (1, 3), (0, 32)]
    for d in range(6):
        _, dv, av = rows[d]
        for lane, bit in flips[:d]:
            if lane == 0:
                dv ^= 1 << bit
            else:
                av ^= 1 << bit
        dv = dv - (1 << 64) if dv >= (1 << 63) else dv
        av = av - (1 << 64) if av >= (1 << 63) else av
        rows.append((nxt, dv, av))
        nxt += 1
    df = spark.createDataFrame(rows, "image_id long, dhash long, ahash long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.hamming_pairs(
            df, id_col="image_id", lanes=("dhash", "ahash"), bands=4, max_hamming=3
        ).collect()
    }
    mask = (1 << 64) - 1
    vals = {i: (d & mask, a & mask) for i, d, a in rows}
    ids = sorted(vals)
    expect = set()
    for i_pos, a in enumerate(ids):
        for b in ids[i_pos + 1 :]:
            ham = bin(vals[a][0] ^ vals[b][0]).count("1") + bin(
                vals[a][1] ^ vals[b][1]
            ).count("1")
            if ham <= 3:
                expect.add((a, b, ham))
    assert got == expect
    assert {(0, 200, 0), (1, 201, 1), (2, 202, 2), (3, 203, 3)} <= got
    assert not any(b in (204, 205) for _, b, _ in got)
    # 8-band (16-bit key) configuration still agrees at its threshold
    got8 = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.hamming_pairs(
            df, id_col="image_id", lanes=("dhash", "ahash"), bands=8, max_hamming=5
        ).collect()
    }
    expect8 = set()
    for i_pos, a in enumerate(ids):
        for b in ids[i_pos + 1 :]:
            ham = bin(vals[a][0] ^ vals[b][0]).count("1") + bin(
                vals[a][1] ^ vals[b][1]
            ).count("1")
            if ham <= 5:
                expect8.add((a, b, ham))
    assert got8 == expect8
    assert {(4, 204, 4), (5, 205, 5)} <= got8


def test_phash128_wide_rejects_bad_band_configs():
    import pytest

    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.hamming_pairs(
            None, id_col="image_id", lanes=("dhash", "ahash"), bands=4, max_hamming=4
        )
    with pytest.raises(ValueError, match="even"):
        dedup.hamming_pairs(
            None, id_col="image_id", lanes=("dhash", "ahash"), bands=5, max_hamming=3
        )


def test_afp64_mean_lane_kernel():
    """Mean-delta lane: monotone-increasing window sums → all-ones,
    decreasing → zero, flat → zero; 65-window contract asserted; and
    the two lanes genuinely differ (energy is sign-blind where the
    mean is not: alternating ±x windows have flat energy but moving
    mean)."""
    import pytest

    inc = [j for w in range(65) for j in [w] * 8]
    dec = [j for w in range(65) for j in [64 - w] * 8]
    flat = [5] * 520
    assert multimodal.afp64_mean_from_samples(inc) == -1
    assert multimodal.afp64_mean_from_samples(dec) == 0
    assert multimodal.afp64_mean_from_samples(flat) == 0
    with pytest.raises(ValueError, match="65 windows"):
        multimodal.afp64_mean_from_samples(flat, n_windows=64)
    alt = [128 + (8 if w % 2 == 0 else -8) for w in range(65) for _ in range(8)]
    assert multimodal.afp64_from_samples(alt, zero=128) == 0  # equal energies
    assert multimodal.afp64_mean_from_samples(alt, zero=128) != 0


def test_wav_wide_fingerprint_planted_pairs(spark):
    """audio_fingerprint_wide decodes once and emits both lanes; the
    128-bit banded join (8×16 bands, Hamming ≤ 7) finds exactly the
    planted (original, re-encode) pairs, each within summed Hamming 4
    (≤ 2 bits per lane from the one re-encoded window)."""
    docs = load_table(spark, SF_SMALL, "documents").limit(10)
    clips = multimodal.synthesize_wav_variants(docs, n_variants=2)
    fps = multimodal.audio_fingerprint_wide(clips)
    pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.hamming_pairs(
            fps,
            id_col="audio_id",
            lanes=("afp", "afp_mean"),
            bands=8,
            max_hamming=7,
        ).collect()
    }
    clip_ids = sorted(r["audio_id"] for r in clips.select("audio_id").collect())
    originals = [i for i in clip_ids if i % 2 == 0]
    assert {(a, b) for a, b, _ in pairs} == {(i, i + 1) for i in originals}
    assert all(h <= 4 for _, _, h in pairs)
