"""Deterministic image codecs for the sandbox — stdlib + numpy only (no
PIL in the container, per the environment constraints).

* PNG: real, spec-conformant encode/decode (zlib + filter-0 scanlines) —
  lossless, so decoded-pixel allclose is exact.
* REAL JPEG: fixtures/jfif.py implements baseline sequential JFIF
  (T.81 DCT + canonical Huffman + byte stuffing; decoder handles 4:4:4 /
  4:2:2 / 4:2:0, stream-read DQT/DHT, restart markers). This is the
  lossy format the PSNR >= 40 dB target (BASELINE.json input_hint) is
  exercised against. Recognized by the 'JFIF' APP0 identifier.
* FAKE "JPEG" (legacy, kept for the pre-existing fixture slice and
  clearly marked): a JFIF-like wrapper (real SOI/APP0 magic so
  magic-sniffing is realistic) around uniform-quantized zlib RGB,
  PSNR ≈ 47 dB. Distinguished from real JFIF by the APP0 bytes: real
  streams carry 'JFIF\\x00' at offset 6, the fake carries its big-endian
  width there.

Header layouts (parsed natively in Spark via substring()/conv() on the
binary column — see pipeline.binary_sanity_cols):

  PNG : [8B signature][4B len]['IHDR'][4B width BE][4B height BE]...
        width at byte offset 16, height at 20 (PNG spec, public).
  REAL JFIF: fixed segment order SOI/APP0/DQTx2/SOF0 puts the SOF0
        height at byte offset 163 (BE16) and width at 165 (jfif.py).
  FAKE-JPEG: [FF D8 FF E0][4B width BE][4B height BE][zlib RGB][FF D9]
        width at byte offset 4, height at 8.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
JPEG_SOI = b"\xff\xd8\xff\xe0"
JPEG_EOI = b"\xff\xd9"
JPEG_QUANT_STEP = 4  # uniform quantization — PSNR ~= 47 dB


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(arr: np.ndarray) -> bytes:
    """RGB uint8 (h, w, 3) -> PNG bytes (8-bit truecolor, filter 0)."""
    h, w, _ = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def jpeg_encode(arr: np.ndarray) -> bytes:
    """DETERMINISTIC FAKE lossy encode (see module docstring)."""
    h, w, _ = arr.shape
    q = (arr // JPEG_QUANT_STEP) * JPEG_QUANT_STEP  # lossy quantization
    return (
        JPEG_SOI
        + struct.pack(">II", w, h)
        + zlib.compress(q.tobytes(), 6)
        + JPEG_EOI
    )


def is_real_jfif(b: bytes | None) -> bool:
    """Real JFIF streams carry the 'JFIF\\x00' APP0 identifier at byte 6;
    the fake wrapper carries its width bytes there."""
    return b is not None and len(b) >= 11 and b[:3] == b"\xff\xd8\xff" and b[6:10] == b"JFIF"


def sniff_format(b: bytes | None) -> str | None:
    """Magic-byte format sniff — the Spark-native dual lives in
    pipeline.binary_sanity_cols (substring on the binary column)."""
    if b is None:
        return None
    if b[:8] == PNG_SIG:
        return "png"
    if b[:3] == b"\xff\xd8\xff":
        return "jpeg"
    return None


def header_dims(b: bytes | None) -> tuple[int, int] | None:
    """Width/height from fixed header offsets without decoding."""
    if b is None:
        return None
    if b[:8] == PNG_SIG and len(b) >= 24:
        w, h = struct.unpack(">II", b[16:24])
        return (w, h)
    if is_real_jfif(b):
        from metacheck_spark.fixtures import jfif

        # Trust the fixed SOF0 dim offsets only when the SOF0 marker is
        # actually at the encoder's fixed position (SOF_HEIGHT_OFFSET - 5
        # = start of the FF C0 marker): a wild JFIF with extra APP1/COM
        # segments carries the APP0 id but a different layout, and the
        # honest answer there is "dims unknown", not a misread.
        sof_pos = jfif.SOF_HEIGHT_OFFSET - 5
        if (
            len(b) >= jfif.SOF_WIDTH_OFFSET + 2
            and b[sof_pos : sof_pos + 2] == b"\xff\xc0"
        ):
            (h,) = struct.unpack(">H", b[jfif.SOF_HEIGHT_OFFSET : jfif.SOF_HEIGHT_OFFSET + 2])
            (w,) = struct.unpack(">H", b[jfif.SOF_WIDTH_OFFSET : jfif.SOF_WIDTH_OFFSET + 2])
            return (w, h)
        return None
    if b[:3] == b"\xff\xd8\xff" and len(b) >= 12:
        w, h = struct.unpack(">II", b[4:12])
        return (w, h)
    return None


def decode(b: bytes | None) -> np.ndarray | None:
    """Decode PNG, real JFIF, or fake-JPEG to RGB uint8 (h, w, 3); None on
    failure."""
    if b is None:
        return None
    try:
        if b[:8] == PNG_SIG:
            return _png_decode(b)
        if is_real_jfif(b):
            from metacheck_spark.fixtures import jfif

            return jfif.jfif_decode(b)
        if b[:3] == b"\xff\xd8\xff":
            return _jpeg_decode(b)
    except Exception:
        return None
    return None


def _png_decode(b: bytes) -> np.ndarray | None:
    pos, w, h, idat = 8, None, None, b""
    saw_iend = False
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + length]
        if len(data) < length:
            return None  # truncated
        if tag == b"IHDR":
            w, hh, depth, ctype = struct.unpack(">IIBB", data[:10])
            h = hh
            if depth != 8 or ctype != 2:
                return None
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if w is None or not saw_iend:
        return None
    raw = zlib.decompress(idat)
    stride = 1 + w * 3
    if len(raw) != stride * h:
        return None
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    if not (rows[:, 0] == 0).all():
        return None  # only filter 0 is emitted/supported
    return rows[:, 1:].reshape(h, w, 3).copy()


def _jpeg_decode(b: bytes) -> np.ndarray | None:
    if len(b) < 14 or b[-2:] != JPEG_EOI:
        return None
    w, h = struct.unpack(">II", b[4:12])
    raw = zlib.decompress(b[12:-2])
    if len(raw) != w * h * 3:
        return None
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()


def average_phash(arr: np.ndarray) -> int:
    """64-bit average-hash: 8x8 block-mean grayscale thresholded at its
    mean — a standard public perceptual-hash construction. Returned as a
    SIGNED 64-bit value (Spark LongType)."""
    gray = arr.mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    # Block sums via two reduceat passes (no per-block Python loop), then
    # divide by the block areas: same means as slicing+.mean() per block.
    rowsum = np.add.reduceat(gray, ys[:-1], axis=0)
    blocks = np.add.reduceat(rowsum, xs[:-1], axis=1)
    areas = np.outer(np.diff(ys), np.diff(xs))
    blocks = blocks / areas
    bits = (blocks > blocks.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# --- WAV/PCM audio (REAL codec — RIFF/PCM16 is pure struct + numpy) ---------

def wav_encode(samples: np.ndarray, rate: int = 16000) -> bytes:
    """mono int16 PCM -> canonical 44-byte-header WAV bytes."""
    pcm = samples.astype("<i2").tobytes()
    n = len(pcm)
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + n)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", n)
    )
    return hdr + pcm


def wav_decode(b: bytes | None) -> tuple[np.ndarray, int] | None:
    """WAV bytes -> (mono int16 samples, sample_rate); None on failure.
    Walks RIFF chunks (fmt then data), mono/PCM16 only."""
    if b is None or len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, rate, data = 12, None, None
    try:
        while pos + 8 <= len(b):
            tag = b[pos : pos + 4]
            (length,) = struct.unpack("<I", b[pos + 4 : pos + 8])
            body = b[pos + 8 : pos + 8 + length]
            if len(body) < length:
                return None
            if tag == b"fmt " and len(body) >= 16:
                fmt, ch, rate = struct.unpack("<HHI", body[:8])
                bits = struct.unpack("<H", body[14:16])[0]
                if fmt != 1 or ch != 1 or bits != 16:
                    return None
            elif tag == b"data":
                data = body
            pos += 8 + length + (length & 1)
    except struct.error:
        return None
    if rate is None or data is None or len(data) % 2:
        return None
    return np.frombuffer(data, dtype="<i2").copy(), int(rate)


# --- deterministic multi-frame video container ("MJPEG-ish") ----------------
# Layout: [4B magic 'MJPG'][4B n_frames BE] then per frame
# [4B length BE][frame bytes (fake-JPEG or PNG)]. A real container needs a
# demuxer library; this one keeps the Spark-side plumbing (binary column,
# offset walk, every-Nth-frame decode) identical to the real thing.

VIDEO_MAGIC = b"MJPG"


def video_encode(frames: list[np.ndarray]) -> bytes:
    out = [VIDEO_MAGIC, struct.pack(">I", len(frames))]
    for arr in frames:
        fb = jpeg_encode(arr)
        out.append(struct.pack(">I", len(fb)))
        out.append(fb)
    return b"".join(out)


def video_frame_offsets(b: bytes | None) -> list[tuple[int, int]]:
    """[(offset, length)] per frame without decoding any pixel data."""
    if b is None or len(b) < 8 or b[:4] != VIDEO_MAGIC:
        return []
    (n,) = struct.unpack(">I", b[4:8])
    pos, out = 8, []
    for _ in range(n):
        if pos + 4 > len(b):
            return []
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        if pos + 4 + length > len(b):
            return []
        out.append((pos + 4, length))
        pos += 4 + length
    return out


def video_sample_frames(b: bytes | None, every_n: int = 2) -> list[np.ndarray]:
    """Decode every Nth frame (seek by offset — untouched frames are never
    decompressed, the property that matters at scale)."""
    offs = video_frame_offsets(b)
    out = []
    for i, (off, length) in enumerate(offs):
        if i % every_n == 0:
            arr = decode(b[off : off + length])
            if arr is not None:
                out.append(arr)
    return out
