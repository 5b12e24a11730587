"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata struct (SURVEY.md §7 Phase 6).

First-class, not plumbing-only:
- REAL image decode for PPM (P6), uncompressed 24-bit BMP, PNG
  (every legal depth 1/2/4/8/16, non-interlaced AND Adam7, all 5
  scanline filters, color types 0/2/3/4/6 — stdlib zlib + numpy) and
  JPEG (baseline + progressive: Huffman + IDCT + chroma upsampling,
  pure numpy — functions/jpeg.py), plus real PNG and JPEG (baseline +
  progressive) encoders. PREFERENCE ORDER is production-first:
  when PIL is importable its C codecs (libjpeg-turbo/libpng/giflib)
  decode PNG/JPEG/GIF — 20-100× the throughput of a Python entropy
  loop — and the pure-Python codecs are the PIL-less fallback + golden
  certifiers; when PIL is absent (this container) the native codecs
  carry everything — baseline AND progressive JPEG (incl. Adobe
  CMYK/YCCK/RGB via APP14), every legal PNG depth/interlace — and the
  residual exotics (12-bit/arithmetic JPEG) raise the honest
  NotImplementedError gate.
- REAL audio decode for PCM16 WAV (RIFF parse → int16 samples).
- REAL nearest-neighbor resize + PPM re-encode.
- REAL features: channel means/stds + luminance histogram (images),
  RMS/zero-crossing-rate + amplitude histogram (audio).
- REAL video decode for PPM streams (concatenated P6 frames — the
  container-free format ffmpeg's ``-f image2pipe -vcodec ppm`` emits),
  animated GIF (pure-Python LZW + canvas composition, functions/gif.py),
  AND AVI/MJPEG (RIFF demux + per-frame baseline-JPEG decode,
  functions/avi.py — a real CONTAINER format): streaming per-frame
  luminance/motion features and true frame extraction
  (``extract_frames``) over all three (AVI: MJPEG + raw-DIB frames).
  Codecs with no in-repo decoder (h264-in-mp4/mkv) still route through
  the clearly-marked stub — never a fake frame.

All batch transforms are Arrow-batched ``mapInPandas`` over the canonical
MEDIA_SCHEMA; binary payloads dominate task memory, so repartition upstream
to O(batch) blobs per task (the callers in queries/ do).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

try:  # pragma: no cover - not present in this container
    from PIL import Image as _PILImage
except ImportError:
    _PILImage = None

#: Canonical multimodal row: payload + typed metadata (media_type drives
#: dispatch; width/height/duration are nullable per modality).
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("payload", BinaryType(), False),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

_FEATURE_DIM = 16

#: One malformed/corrupt blob degrades ITS row, never the task: the
#: exception net every per-payload kernel shares (KeyError covers corrupt
#: JPEGs whose scan references an undefined Huffman/quantization table).
_DEGRADE_ERRORS = (ValueError, NotImplementedError, struct.error, IndexError, KeyError)


# ---------------------------------------------------------------------------
# Codecs (numpy; PIL only as gated fallback for compressed formats).
# ---------------------------------------------------------------------------


def encode_ppm(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 → binary PPM (P6)."""
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(arr, dtype=np.uint8).tobytes()


def _decode_ppm_at(payload: bytes, i: int) -> tuple[np.ndarray, int]:
    """Decode one P6 frame starting at byte ``i``; returns (image, next
    offset) so concatenated frames (PPM streams) can be walked."""
    if payload[i : i + 2] != b"P6":
        raise NotImplementedError(f"not a P6 frame at offset {i}")
    # header: magic, width, height, maxval — whitespace separated, '#' comments
    tokens, i = [], i + 2  # skip "P6"
    while len(tokens) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            while payload[i : i + 1] not in (b"\n", b""):
                i += 1
            continue
        start = i
        while i < len(payload) and not payload[i : i + 1].isspace():
            i += 1
        tokens.append(int(payload[start:i]))
    i += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255")
    img = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i).reshape(h, w, 3)
    return img, i + w * h * 3


def _decode_ppm(payload: bytes) -> np.ndarray:
    return _decode_ppm_at(payload, 0)[0]


def encode_ppm_stream(frames: list[np.ndarray]) -> bytes:
    """Frames → concatenated P6 stream: the container-free video format
    ffmpeg's ``-f image2pipe -vcodec ppm`` emits. Each frame carries its
    own header, so the stream is self-delimiting and seekable forward."""
    return b"".join(encode_ppm(f) for f in frames)


def decode_ppm_stream(payload: bytes) -> list[np.ndarray]:
    """Concatenated-P6 video bytes → list of (H, W, 3) uint8 frames."""
    frames, i = [], 0
    while i < len(payload):
        img, i = _decode_ppm_at(payload, i)
        frames.append(img)
    return frames


def encode_bmp(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → uncompressed 24-bit BMP (bottom-up rows,
    4-byte-padded, BGR) — the inverse of :func:`_decode_bmp`, used to mix
    encodings in the synthetic corpus."""
    h, w = arr.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    data = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(data), 0, 0, 14 + 40)
    return file_hdr + info + data


def _decode_bmp(payload: bytes) -> np.ndarray:
    # BITMAPFILEHEADER (14 B) + BITMAPINFOHEADER (40 B), 24 bpp uncompressed,
    # rows bottom-up and padded to 4-byte boundaries, pixels stored BGR.
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(f"BMP variant unsupported (bpp={bpp}, comp={compression})")
    flipped = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_offset)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
    return img[::-1] if flipped else img


# --- PNG (pure stdlib-zlib + numpy; no PIL) --------------------------------
#
# PNG's only compression is stdlib `zlib` over filtered scanlines, so the
# full decode needs no external codec: signature → chunk walk
# (IHDR/PLTE/tRNS-free IDAT/IEND) → inflate → per-scanline de-filter
# (all 5 spec filters) → color-type assembly. Covers color types 0
# (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA) at every legal
# depth (1/2/4/8/16), non-interlaced and Adam7 (r9) — the full PNG
# decode surface, no gates left.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_row(raw: np.ndarray, prev: np.ndarray, bpp: int) -> tuple[int, bytes]:
    """Pick the spec's minimum-sum-of-absolute-differences filter for one
    scanline (the reference heuristic) — returns (filter_type, filtered)."""
    left = np.concatenate([np.zeros(bpp, np.int16), raw[:-bpp].astype(np.int16)])
    up = prev.astype(np.int16)
    ul = np.concatenate([np.zeros(bpp, np.int16), prev[:-bpp].astype(np.int16)])
    r16 = raw.astype(np.int16)
    cands = {
        0: r16,
        1: r16 - left,
        2: r16 - up,
        3: r16 - (left + up) // 2,
        4: r16 - _paeth(left, up, ul),
    }
    best, best_sum = 0, None
    for f, v in cands.items():
        # spec heuristic: minimize the sum of filtered bytes interpreted
        # as signed magnitudes
        sb = (v % 256).astype(np.int16)
        s = int(np.where(sb > 127, 256 - sb, sb).sum())
        if best_sum is None or s < best_sum:
            best, best_sum = f, s
    return best, (cands[best] % 256).astype(np.uint8).tobytes()


def _paeth(left: np.ndarray, up: np.ndarray, ul: np.ndarray) -> np.ndarray:
    p = left + up - ul
    pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
    return np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))


def encode_png(arr: np.ndarray) -> bytes:
    """(H, W, 3) uint8 RGB → PNG bytes (8-bit truecolor, non-interlaced,
    per-row min-SAD filter heuristic + stdlib zlib) — a real encoder, so
    synthetic corpora can carry genuinely compressed payloads."""
    import zlib

    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w = arr.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    prev = np.zeros(w * 3, np.uint8)
    parts = []
    for r in range(h):
        raw = arr[r].reshape(-1)
        f, filtered = _png_filter_row(raw, prev, 3)
        parts.append(bytes([f]) + filtered)
        prev = raw
    idat = zlib.compress(b"".join(parts), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def _png_defilter(raw: np.ndarray, n_rows: int, stride: int, bpp: int) -> np.ndarray:
    """Undo PNG scanline filtering: *raw* is (n_rows, 1 + stride) uint8
    (filter byte + filtered bytes per row), *bpp* the filter unit in
    BYTES (channels × bytes-per-sample). Returns (n_rows, stride) uint8.
    Shared by the non-interlaced path and each Adam7 sub-image (which is
    filtered as an independent image per the spec). Filters 0/1/2 are
    fully vectorized; Average/Paeth depend on the just-reconstructed left
    neighbor, so those rows run a tight pure-Python byte loop (bytearray
    int arithmetic — several times faster than per-pixel numpy slicing)."""
    out = np.zeros((n_rows, stride), np.uint8)
    prev_np = np.zeros(stride, np.int16)
    prev_b = bytes(stride)
    lanes = stride // bpp
    for r in range(n_rows):
        f = int(raw[r, 0])
        if f == 0:
            recon = raw[r, 1:].astype(np.int16)
        elif f == 1:  # Sub: per-lane cumulative sum mod 256
            line = raw[r, 1:].astype(np.int64)
            recon = (
                np.cumsum(line.reshape(lanes, bpp), axis=0).reshape(-1) % 256
            ).astype(np.int16)
        elif f == 2:  # Up
            recon = (raw[r, 1:].astype(np.int16) + prev_np) % 256
        elif f == 3:  # Average
            ln = raw[r, 1:].tobytes()
            pr = prev_b
            rec = bytearray(stride)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                rec[i] = (ln[i] + ((left + pr[i]) >> 1)) & 0xFF
            out[r] = np.frombuffer(bytes(rec), np.uint8)
            prev_np = out[r].astype(np.int16)
            prev_b = bytes(rec)
            continue
        elif f == 4:  # Paeth
            ln = raw[r, 1:].tobytes()
            pr = prev_b
            rec = bytearray(stride)
            for i in range(stride):
                if i >= bpp:
                    left, ul = rec[i - bpp], pr[i - bpp]
                else:
                    left = ul = 0
                up = pr[i]
                p = left + up - ul
                pa = p - left if p >= left else left - p
                pb = p - up if p >= up else up - p
                pc = p - ul if p >= ul else ul - p
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                rec[i] = (ln[i] + pred) & 0xFF
            out[r] = np.frombuffer(bytes(rec), np.uint8)
            prev_np = out[r].astype(np.int16)
            prev_b = bytes(rec)
            continue
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        out[r] = recon.astype(np.uint8)
        prev_np = recon
        prev_b = out[r].tobytes()
    return out


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_rows_to_samples(
    rows: np.ndarray, width: int, depth: int, ch: int
) -> np.ndarray:
    """De-filtered scanline bytes (n_rows, row_bytes) → (n_rows, width, ch)
    uint8 samples. depth 8: plain reshape; depth 16: high byte kept
    (libpng strip_16); depths 1/2/4 (gray/palette only): MSB-first bit
    unpacking, padding bits at row end discarded. Sub-8-bit GRAY samples
    are left as raw values — the caller scales by 255/(2^depth-1)."""
    n = rows.shape[0]
    if depth == 8:
        return rows.reshape(n, width, ch)
    if depth == 16:
        return rows.reshape(n, width, ch, 2)[..., 0]
    bits = np.unpackbits(rows, axis=1)[:, : width * depth * ch]
    weights = 1 << np.arange(depth - 1, -1, -1)
    vals = (bits.reshape(n, width * ch, depth) * weights).sum(axis=2)
    return vals.astype(np.uint8).reshape(n, width, ch)


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → (H, W, 3) uint8 RGB, pure stdlib zlib + numpy.
    Color types 0/2/3/4/6 at every legal bit depth — 8, 16 (high byte
    kept, libpng strip_16 semantics), and 1/2/4 for gray/palette (gray
    scaled to full range) — non-interlaced AND Adam7 (each pass
    de-filtered as its own sub-image, then re-rastered per the spec's
    pass geometry)."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise NotImplementedError("not a PNG payload")
    i, idat, plte = 8, bytearray(), None
    w = h = depth = ctype = interlace = None
    while i + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, i)
        tag = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
        elif tag == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        i += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    if (
        depth not in (1, 2, 4, 8, 16)
        or interlace not in (0, 1)
        or ctype not in _PNG_CHANNELS
    ):
        raise NotImplementedError(
            f"PNG depth={depth}/interlace={interlace}/color={ctype} needs PIL"
        )
    if depth < 8 and ctype not in (0, 3):
        raise ValueError(f"PNG color type {ctype} forbids depth {depth}")
    if ctype == 3 and depth == 16:
        raise ValueError("PNG palette color type forbids 16-bit depth")
    ch = _PNG_CHANNELS[ctype]
    # filter unit in bytes: max(1, channels × bytes-per-sample) per spec
    bpp = max(1, ch * depth // 8)
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)

    def row_bytes(width: int) -> int:
        return (width * ch * depth + 7) // 8

    if interlace == 0:
        stride = row_bytes(w)
        if len(raw) != h * (stride + 1):
            raise ValueError("PNG scanline payload length mismatch")
        out = _png_defilter(raw.reshape(h, stride + 1), h, stride, bpp)
        px = _png_rows_to_samples(out, w, depth, ch)
    else:  # Adam7: 7 independently-filtered sub-images, re-rastered
        px = np.zeros((h, w, ch), np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue  # empty pass contributes NO bytes, not even filter bytes
            stride = row_bytes(pw)
            need = ph * (stride + 1)
            if pos + need > len(raw):
                raise ValueError("PNG Adam7 payload truncated")
            sub = _png_defilter(
                raw[pos : pos + need].reshape(ph, stride + 1), ph, stride, bpp
            )
            pos += need
            px[y0::dy, x0::dx] = _png_rows_to_samples(sub, pw, depth, ch)
        if pos != len(raw):
            raise ValueError("PNG Adam7 payload length mismatch")
    if ctype == 0 and depth < 8:  # scale raw gray levels to full range
        px = (px.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(np.uint8)

    if ctype == 2:
        return np.ascontiguousarray(px)
    if ctype == 6:
        return np.ascontiguousarray(px[..., :3])
    if ctype == 0:
        return np.repeat(px, 3, axis=-1)
    if ctype == 4:
        return np.repeat(px[..., :1], 3, axis=-1)
    # ctype 3: palette lookup
    if plte is None:
        raise ValueError("paletted PNG missing PLTE")
    return plte[px[..., 0]]


def _pil_rgb(payload: bytes) -> np.ndarray:  # pragma: no cover - PIL absent here
    """PIL decode (C-backed libjpeg-turbo/libpng/giflib) → (H, W, 3) RGB."""
    import io

    return np.asarray(_PILImage.open(io.BytesIO(payload)).convert("RGB"))


def decode_jpeg_rgb(payload: bytes) -> np.ndarray:
    """JPEG → RGB with the PRODUCTION preference order: PIL/libjpeg-turbo
    (~100+ MB/s/core) FIRST when importable; the pure-numpy decoder
    (functions/jpeg.py — an inherently bit-serial Python Huffman loop,
    ~1-5 MB/s/core) is the PIL-less fallback and remains the golden
    certifier that the engine understands the bits. At 100 TB of
    multimodal corpus the entropy decode is the throughput bound, so the
    C path must win whenever it exists."""
    if _PILImage is not None:  # pragma: no cover - PIL absent here
        try:
            return _pil_rgb(payload)
        except Exception:
            pass  # corrupt-for-PIL: let the native decoder try / raise
    from .jpeg import decode_jpeg

    return decode_jpeg(payload)


def decode_gif_rgb_frames(payload: bytes) -> list[np.ndarray]:
    """Animated-GIF frames with the same production preference order:
    PIL frame iteration (giflib + its canvas compositor) first when
    importable, the pure-Python LZW + canvas composition of
    functions/gif.py as the PIL-less fallback and golden certifier."""
    if _PILImage is not None:  # pragma: no cover - PIL absent here
        try:
            import io

            from PIL import ImageSequence

            im = _PILImage.open(io.BytesIO(payload))
            return [np.asarray(f.convert("RGB")) for f in ImageSequence.Iterator(im)]
        except Exception:
            pass
    from .gif import decode_gif_frames

    return decode_gif_frames(payload)


def decode_image(payload: bytes) -> np.ndarray:
    """Image bytes → (H, W, 3) uint8 RGB. PPM/BMP always native (raw
    formats — a header parse + memcpy, nothing for C to win). For the
    compressed formats the preference order is PRODUCTION-first: when
    PIL is importable, PNG/JPEG/GIF route through it (libpng /
    libjpeg-turbo / giflib — 20-100× the decode throughput of a Python
    loop), with the pure-Python codecs as fallback; when PIL is absent
    (this container), the native codecs decode baseline AND progressive
    JPEG (incl. Adobe CMYK/YCCK/RGB), PNG at every legal depth/interlace
    (all 5 filters, color types 0/2/3/4/6) and GIF; the residual exotics
    (12-bit/arithmetic JPEG) raise the honest gate."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:8] == _PNG_SIG:
        if _PILImage is not None:  # pragma: no cover - PIL absent here
            try:
                return _pil_rgb(payload)
            except Exception:
                pass
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg_rgb(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if _PILImage is not None:  # pragma: no cover - PIL absent here
            try:
                return _pil_rgb(payload)
            except Exception:
                pass
        from .gif import decode_gif

        return decode_gif(payload)
    if _PILImage is not None:  # pragma: no cover - PIL absent here
        return _pil_rgb(payload)
    raise NotImplementedError(
        f"compressed image format {payload[:4]!r} needs PIL (not in this container)"
    )


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Real nearest-neighbor resample (the classic index-map formulation)."""
    h, w = img.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return img[ys][:, xs]


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """int16 mono samples → RIFF/WAVE PCM16 bytes."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """PCM16 WAV bytes → (sample_rate, int16 mono samples). Walks RIFF
    chunks, so extra chunks (LIST etc.) are tolerated."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE payload")
    i, sr, samples = 12, None, None
    while i + 8 <= len(payload):
        cid, size = payload[i : i + 4], struct.unpack_from("<I", payload, i + 4)[0]
        if cid == b"fmt ":
            audio_fmt, channels, sr = struct.unpack_from("<HHI", payload, i + 8)
            bits = struct.unpack_from("<H", payload, i + 8 + 14)[0]
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError(f"WAV fmt={audio_fmt}/bits={bits} unsupported")
        elif cid == b"data":
            samples = np.frombuffer(payload, dtype="<i2", count=size // 2, offset=i + 8)
        i += 8 + size + (size & 1)
    if sr is None or samples is None:
        raise NotImplementedError("WAV missing fmt/data chunk")
    return sr, samples


# ---------------------------------------------------------------------------
# Feature extraction — real per-modality kernels.
# ---------------------------------------------------------------------------


def image_features(payload: bytes) -> np.ndarray:
    """16-dim: [w, h, mean RGB ×3, std RGB ×3, 8-bin luminance histogram
    (density)] — the classic cheap visual signature."""
    img = decode_image(payload)
    h, w = img.shape[:2]
    flt = img.reshape(-1, 3).astype(np.float64)
    lum = flt @ np.array([0.299, 0.587, 0.114])
    hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
    return np.concatenate(
        [[float(w), float(h)], flt.mean(axis=0), flt.std(axis=0), hist / max(len(lum), 1)]
    )


def audio_features(payload: bytes) -> np.ndarray:
    """16-dim: [sample_rate, n_samples, rms, zero-crossing-rate, 12-bin
    |amplitude| histogram (density)]."""
    sr, x = decode_wav(payload)
    xf = x.astype(np.float64) / 32768.0
    rms = float(np.sqrt(np.mean(xf**2))) if len(xf) else 0.0
    zcr = float(np.mean(np.abs(np.diff(np.signbit(xf))))) if len(xf) > 1 else 0.0
    hist, _ = np.histogram(np.abs(xf), bins=12, range=(0.0, 1.0))
    return np.concatenate([[float(sr), float(len(x)), rms, zcr], hist / max(len(xf), 1)])


def _video_features_stub(payload: bytes) -> np.ndarray:
    """STUB for OPAQUE video containers (mp4/mkv…): container demux needs
    pyav/ffmpeg (absent here). A deterministic payload-derived vector keeps
    the pipeline total; swap for real frame statistics when a demuxer
    lands. PPM-stream videos never reach this — see video_features."""
    seed = int.from_bytes(payload[:8].ljust(8, b"\0"), "little") & 0x7FFFFFFF
    return np.random.default_rng(seed).random(_FEATURE_DIM, dtype=np.float64)


def video_features(payload: bytes) -> np.ndarray:
    """16-dim REAL video signature for PPM-stream AND animated-GIF
    payloads: [n_frames, w, h, mean luminance, luminance std, motion
    (mean |Δ| between consecutive frames), 10-bin luminance histogram
    (density)]. PPM luminance stats stream frame-by-frame (one decoded
    frame + its predecessor in memory — bounded regardless of clip
    length); GIF frames come canvas-composed from functions/gif.py and
    run through the SAME accumulation kernel. Opaque containers fall
    back to the marked stub, and so does a MALFORMED stream (truncated
    frame / garbage trailer): one corrupt blob in 100 TB of media must
    degrade that row, not fail the whole task."""
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        try:
            return _video_features_frames(decode_gif_rgb_frames(payload))
        except _DEGRADE_ERRORS:
            return _video_features_stub(payload)
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        try:
            from .avi import decode_avi_frames

            # MJPEG/raw-DIB frames decode one-by-one; an opaque-codec
            # AVI raises through the degrade net
            return _video_features_frames(decode_avi_frames(payload))
        except _DEGRADE_ERRORS:
            return _video_features_stub(payload)
    if payload[:2] != b"P6":
        return _video_features_stub(payload)
    try:
        return _video_features_ppm(payload)
    except _DEGRADE_ERRORS:
        return _video_features_stub(payload)


def _video_features_ppm(payload: bytes) -> np.ndarray:
    def gen():
        i = 0
        while i < len(payload):
            img, j = _decode_ppm_at(payload, i)
            i = j
            yield img

    return _video_features_frames(gen())


def _video_features_frames(frames) -> np.ndarray:
    """The shared per-frame accumulation kernel: any iterable of
    (H, W, 3) uint8 frames (streamed PPM walk or composed GIF list) —
    one frame + its predecessor in memory."""
    lum_w = np.array([0.299, 0.587, 0.114])
    n = s = s2 = 0.0
    hist = np.zeros(10)
    motion_sum, motion_n = 0.0, 0
    prev = None
    n_frames, w, h = 0, 0, 0
    for img in frames:
        n_frames += 1
        h, w = img.shape[:2]
        lum = img.reshape(-1, 3).astype(np.float64) @ lum_w
        n += len(lum)
        s += float(lum.sum())
        s2 += float((lum * lum).sum())
        hist += np.histogram(lum, bins=10, range=(0.0, 256.0))[0]
        if prev is not None and prev.shape == img.shape:
            motion_sum += float(
                np.abs(img.astype(np.int16) - prev.astype(np.int16)).mean()
            )
            motion_n += 1
        prev = img
    mean = s / n if n else 0.0
    var = max(s2 / n - mean * mean, 0.0) if n else 0.0
    motion = motion_sum / motion_n if motion_n else 0.0
    return np.concatenate(
        [
            [float(n_frames), float(w), float(h), mean, var**0.5, motion],
            hist / max(n, 1.0),
        ]
    )


def _safe_features(kernel, payload: bytes) -> np.ndarray:
    """Run a per-modality feature kernel with the malformed-payload
    contract every modality shares (the video path's rule, applied
    uniformly): a truncated/corrupt blob degrades THAT row to the
    deterministic payload-derived stub instead of failing the whole
    mapInPandas task — at 100 TB of scraped media, corrupt blobs are a
    certainty, task-retry storms are the failure mode. Capability gates
    (NotImplementedError: PIL-less JPEG, exotic WAV fmt) degrade the same
    way here; callers wanting loud failures call the kernels directly.
    KeyError is in the net for corrupt JPEGs whose scan references a
    Huffman/quantization table id the stream never defined."""
    try:
        return kernel(payload)
    except _DEGRADE_ERRORS:
        return _video_features_stub(payload)


def extract_features(media: DataFrame) -> DataFrame:
    """payload → fixed-dim feature vector via Arrow-batched mapInPandas.

    Output: (media_id, media_type, feature array<double>, n_bytes int).
    Real decode for image (PPM/BMP/PNG/baseline-JPEG/GIF — native codecs,
    PIL preferred when importable), audio (PCM16 WAV), and video
    (PPM streams, animated GIF, AVI/MJPEG — streamed per-frame stats);
    only opaque containers with no in-repo demuxer (h264-in-mp4/mkv,
    non-MJPEG AVI) degrade to the marked deterministic stub."""
    out_schema = "media_id string, media_type string, feature array<double>, n_bytes int"
    kernels = {"image": image_features, "audio": audio_features, "video": video_features}

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _safe_features(kernels[t], p).tolist()
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "n_bytes": [len(p) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(fn, out_schema)


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash (dHash): integer luminance, nearest-resample
    to 9×8, bit j = lum[r, c+1] > lum[r, c] row-major. Perceptual —
    uniform brightness shifts and re-encodes leave it unchanged; visually
    different images land far apart in Hamming distance. All-integer, so
    bit-reproducible everywhere."""
    lum = (
        299 * img[..., 0].astype(np.int64)
        + 587 * img[..., 1].astype(np.int64)
        + 114 * img[..., 2].astype(np.int64)
    ) // 1000
    small = resize_nearest(lum[..., None], 9, 8)[..., 0]
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    h = 0
    for j, b in enumerate(bits):
        if b:
            h |= 1 << j
    # wrap into signed-long range for a Spark bigint column
    return h - (1 << 64) if h >= 1 << 63 else h


def image_dhash(media: DataFrame) -> DataFrame:
    """(media_id, dhash bigint) for the IMAGE rows of a media frame —
    Arrow-batched mapInPandas over the real PPM/BMP/PNG decoders (PIL-gated
    formats raise through the same honest gate as the feature kernels).
    The perceptual-dedup front end: downstream joins/banding are plain
    JVM relational ops over 8-byte hashes."""
    out_schema = "media_id string, dhash long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["media_type"] == "image"]
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash": [dhash64(decode_image(p)) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(fn, out_schema)


def phash_near_dup_pairs(
    media: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Perceptual near-duplicate image pairs: dHash → split into
    *n_bands* 16-bit bands → band-bucket equi-join (the SimHash banding
    trick: two hashes within Hamming ≤ n_bands−1 MUST agree on ≥1 whole
    band by pigeonhole, so recall is exact for max_hamming ≤ n_bands−1)
    → candidates verified with bit_count(a XOR b) ≤ max_hamming. Only
    the Arrow decode touches pixels; banding, join, and verification are
    JVM codegen over 8-byte hashes — the image twin of
    `functions/dedup.simhash64`'s layout. Output: (id_a, id_b, hamming),
    id_a < id_b. Raises if *max_hamming* exceeds the pigeonhole bound
    n_bands−1: the Hamming verify filter would make the (silently lossy)
    output look exact."""
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole recall "
            f"guarantee of n_bands-1={n_bands - 1}; raise n_bands to at "
            f"least max_hamming+1 (64 % n_bands must stay 0)"
        )
    if 64 % n_bands != 0:
        raise ValueError(f"n_bands={n_bands} must divide 64")
    hashes = image_dhash(media)
    band_idx = F.explode(
        F.sequence(F.lit(0), F.lit(n_bands - 1))
    ).alias("band")
    width = 64 // n_bands
    banded = hashes.select("media_id", "dhash", band_idx).withColumn(
        "band_val",
        F.expr(f"shiftright(dhash, band * {width}) & {(1 << width) - 1}"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            F.col("a.dhash").alias("h_a"),
            F.col("b.dhash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn("hamming", F.expr("bit_count(h_a ^ h_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def audio_fingerprint(payload: bytes) -> int:
    """Integer audio fingerprint: dominant-frequency estimate from the
    zero-crossing rate of the decoded PCM — amplitude-invariant (a
    re-levelled copy of the same tone fingerprints identically), purely
    integer arithmetic. freq ≈ crossings·rate / (2·n), rounded down."""
    rate, samples = decode_wav(payload)
    s = samples.astype(np.int64)
    crossings = int(np.count_nonzero(np.signbit(s[1:]) != np.signbit(s[:-1])))
    return crossings * rate // (2 * max(len(s) - 1, 1))


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """(media_id, freq_hz bigint) for the AUDIO rows — the audio twin of
    :func:`image_dhash`: one Arrow decode pass, then dedup/clustering is
    plain JVM work over small integers."""
    out_schema = "media_id string, freq_hz long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["media_type"] == "audio"]
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "freq_hz": [audio_fingerprint(p) for p in pdf["payload"]],
                }
            )

    return media.mapInPandas(fn, out_schema)


def media_feature_pipeline(media: DataFrame, width: int, height: int) -> DataFrame:
    """Fused decode → resize → feature-extract in ONE Arrow pass.

    Composing ``resize_images`` + ``extract_features`` is semantically
    identical but pays two JVM↔Python round-trips and two Python workers
    per task; at 100 TB (and even at bench scale, where worker cold-start
    dominates tiny corpora) the fused form is the plan you want — the
    Python-side analog of whole-stage codegen. Images are decoded once,
    resampled in memory, and featurized without re-encoding; other
    modalities go straight to their kernel."""
    out_schema = "media_id string, media_type string, feature array<double>, n_bytes int"

    def fused_image(payload: bytes) -> tuple[np.ndarray, int]:
        resized = encode_ppm(resize_nearest(decode_image(payload), width, height))
        return image_features(resized), len(resized)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        plain = {"audio": audio_features, "video": video_features}
        for pdf in batches:
            feats, sizes = [], []
            for p, t in zip(pdf["payload"], pdf["media_type"]):
                if t == "image":
                    # same degradation as resize_images ∘ extract_features:
                    # a malformed image passes resize untouched and stubs,
                    # so fused ≡ composed holds on corrupt blobs too
                    try:
                        f, n = fused_image(p)
                    except _DEGRADE_ERRORS:
                        f, n = _video_features_stub(p), len(p)
                else:
                    f, n = _safe_features(plain[t], p), len(p)
                feats.append(f.tolist())
                sizes.append(n)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "feature": feats,
                    "n_bytes": sizes,
                }
            )

    return media.mapInPandas(fn, out_schema)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize: decode → nearest-neighbor resample → PPM
    re-encode, inside the same bounded-memory mapInPandas shape. Non-image
    rows — and images whose payloads fail to decode (corrupt blob,
    PIL-gated format) — pass through untouched: one bad blob must not
    fail the task, and downstream feature extraction applies the same
    stub degradation to it."""
    out_schema = MEDIA_SCHEMA

    def _resize_or_keep(p: bytes) -> tuple[bytes, bool]:
        try:
            return encode_ppm(resize_nearest(decode_image(p), width, height)), True
        except _DEGRADE_ERRORS:
            return p, False

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            is_img = out["media_type"] == "image"
            if is_img.any():
                pairs = [_resize_or_keep(p) for p in out.loc[is_img, "payload"]]
                idx = out.index[is_img]
                out.loc[is_img, "payload"] = pd.Series(
                    [p for p, _ in pairs], index=idx
                )
                ok = pd.Series([o for _, o in pairs], index=idx)
                out.loc[idx[ok], "width"] = width
                out.loc[idx[ok], "height"] = height
            yield out

    return media.mapInPandas(fn, out_schema)


def extract_frames(media: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL video frame extraction: every ``every_n``-th frame of each
    PPM-stream or animated-GIF video becomes an image row (single-frame
    PPM payload), so downstream image ops (resize/feature) apply
    unchanged — the classic frame-sampling stage of a multimodal
    training pipeline.

    Output: (media_id, frame_index int, frame_ts_ms int, payload, width,
    height); frame_ts_ms assumes uniform frame spacing over duration_ms.
    A PPM stream is walked header-by-header WITHOUT materializing all
    frames (one frame in memory at a time); a GIF is canvas-composed
    (functions/gif.py) so its memory is bounded by clip size; opaque
    containers are skipped (demux needs pyav — the honest gate, not a
    fake frame). Partitioning: payloads dominate task memory —
    repartition upstream to O(batch) videos per task like every op
    here."""
    out_schema = (
        "media_id string, frame_index int, frame_ts_ms int, "
        "payload binary, width int, height int"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p, dur in zip(pdf["media_id"], pdf["payload"], pdf["duration_ms"]):
                p = bytes(p)
                is_gif = p[:6] in (b"GIF87a", b"GIF89a")
                is_avi = p[:4] == b"RIFF" and p[8:12] == b"AVI "
                if p[:2] != b"P6" and not is_gif and not is_avi:
                    continue  # opaque container: no demuxer in this build
                # per-video staging + try/except: a malformed stream
                # (truncated frame, garbage trailer) skips THAT video in
                # full — no partial frame rows, no task failure.
                vid_rows = []
                try:
                    if is_gif or is_avi:
                        if is_gif:
                            all_frames = decode_gif_rgb_frames(p)
                        else:
                            from .avi import decode_avi_frames

                            all_frames = decode_avi_frames(p)
                        step_ms = (dur or 0) / max(len(all_frames), 1)
                        for idx, img in enumerate(all_frames):
                            if idx % every_n == 0:
                                vid_rows.append(
                                    (
                                        mid,
                                        idx,
                                        int(idx * step_ms),
                                        encode_ppm(img),
                                        img.shape[1],
                                        img.shape[0],
                                    )
                                )
                        rows.extend(vid_rows)
                        continue
                    # count frames first (header walk is cheap vs pixel copy)
                    n_frames, i = 0, 0
                    while i < len(p):
                        _, i = _decode_ppm_at(p, i)
                        n_frames += 1
                    step_ms = (dur or 0) / max(n_frames, 1)
                    idx, i = 0, 0
                    while i < len(p):
                        img, i = _decode_ppm_at(p, i)
                        if idx % every_n == 0:
                            vid_rows.append(
                                (
                                    mid,
                                    idx,
                                    int(idx * step_ms),
                                    encode_ppm(img),
                                    img.shape[1],
                                    img.shape[0],
                                )
                            )
                        idx += 1
                except _DEGRADE_ERRORS:
                    continue
                rows.extend(vid_rows)
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "frame_index", "frame_ts_ms", "payload", "width", "height",
                ],
            )

    return media.where(F.col("media_type") == "video").mapInPandas(fn, out_schema)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-timestamp sampling: one output row per sampled frame
    timestamp — pure-JVM (explode over a sequence from metadata), no
    decode. For the decoded frames themselves use ``extract_frames``."""
    return media.where(F.col("media_type") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


# Back-compat alias (pre-round-2 name).
frame_sample_stub = frame_sample


def media_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata aggregation (no decode): bytes/dims per type."""
    return media.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.avg(F.length("payload")).alias("avg_bytes"),
        F.max("width").alias("max_width"),
        F.max("duration_ms").alias("max_duration_ms"),
    )


# ---------------------------------------------------------------------------
# Deterministic synthetic media corpus (fixture + declared-query input):
# payloads are REAL encoded PPM/WAV bytes rendered from the id, generated
# DISTRIBUTED via mapInPandas (no driver-side blobs).
# ---------------------------------------------------------------------------


def synthetic_media(spark, n_items: int = 120, partitions: int | None = None) -> DataFrame:
    """n_items rows cycling image/audio/video. Images are 32×24 gradients
    parameterized by id, container-cycled PPM/BMP/PNG/JPEG/progressive-
    JPEG/multi-scan-JPEG/Adobe-YCCK-JPEG (seven real codec variants over
    the same pixel family); audio is a 440+id Hz, 0.25 s PCM16 sine;
    videos are REAL 4-frame 16×12 PPM streams (a gradient translating one
    pixel per frame, so motion features are non-trivial) with duration
    metadata; every 5th video is an opaque blob to keep the
    container-gate path exercised."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                kind = ("image", "audio", "video")[i % 3]
                if kind == "image":
                    y, x = np.mgrid[0:24, 0:32]
                    img = np.stack(
                        [(x * 8 + i) % 256, (y * 10 + 2 * i) % 256, np.full_like(x, i % 256)],
                        axis=-1,
                    ).astype(np.uint8)
                    # cycle the container: PPM / BMP / PNG / JPEG /
                    # progressive JPEG / multi-scan JPEG / Adobe JPEG
                    # (even ids YCCK, odd CMYK) — same pixel family, seven
                    # real codec variants, so every declared media query
                    # exercises the whole native decode surface (dHash is
                    # bit-stable for these gradients at JPEG q90 — margins
                    # ≫ quantization error — progressive/multi-scan q90
                    # decode bit-identically to baseline q90, and the
                    # Adobe variants are dHash-stable over every corpus id
                    # by test, so the perceptual-collapse probe holds
                    # across all seven)
                    from .jpeg import (
                        encode_jpeg,
                        encode_jpeg_adobe,
                        encode_jpeg_multiscan,
                        encode_jpeg_progressive,
                    )

                    enc = (
                        encode_ppm,
                        encode_bmp,
                        encode_png,
                        lambda a: encode_jpeg(a, 90),
                        lambda a: encode_jpeg_progressive(a, 90),
                        lambda a: encode_jpeg_multiscan(a, 90),
                        lambda a: encode_jpeg_adobe(a, 90, ycck=i % 2 == 0),
                    )[(i // 3) % 7]
                    rows.append((f"m{i}", kind, enc(img), 32, 24, None))
                elif kind == "audio":
                    t = np.arange(0, 4000) / 16000.0
                    wave = (np.sin(2 * np.pi * (440 + i) * t) * 12000).astype(np.int16)
                    rows.append((f"m{i}", kind, encode_wav_pcm16(wave, 16000), None, None, 250))
                elif (i // 3) % 5 == 4:  # opaque container row (gate path)
                    blob = (i.to_bytes(8, "little") * 16)[:100]
                    rows.append((f"m{i}", kind, blob, 320, 240, 1000 + i))
                else:
                    y, x = np.mgrid[0:12, 0:16]
                    frames = [
                        np.stack(
                            [
                                (x * 16 + f + i) % 256,
                                (y * 20 + 2 * i) % 256,
                                np.full_like(x, (i + 4 * f) % 256),
                            ],
                            axis=-1,
                        ).astype(np.uint8)
                        for f in range(4)
                    ]
                    # container-cycle the video too: PPM stream / animated
                    # GIF / AVI-MJPEG (the frame family stays ≤256 colors
                    # so the GIF round trip is lossless; MJPEG is lossy
                    # but the probes below are count/shape-based)
                    sel = (i // 3) % 3
                    if sel == 0:
                        vid = encode_ppm_stream(frames)
                    elif sel == 1:
                        from .gif import encode_gif

                        vid = encode_gif(frames, delay_cs=25)
                    else:
                        from .avi import encode_avi_mjpeg

                        vid = encode_avi_mjpeg(frames, fps=4, quality=92)
                    rows.append((f"m{i}", kind, vid, 16, 12, 1000 + i))
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "payload", "width", "height", "duration_ms"]
            )

    # Payload kernels are microseconds per item; at fixture scale the cost
    # is Python workers, so cap tasks at ~256 items each instead of fanning
    # a tiny corpus across every core (callers can still force `partitions`).
    par = partitions or max(
        4, min(spark.sparkContext.defaultParallelism, -(-n_items // 256))
    )
    return spark.range(n_items).repartition(par).mapInPandas(gen, MEDIA_SCHEMA)
