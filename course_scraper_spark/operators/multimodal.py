"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Media in the crawl appear as span rows with ``kind='media'`` and a
``media_ref`` (the reference extracts them as attribute fields, e.g. img
src — scraper schema 'attribute' type). A training pipeline needs the
bytes themselves plus decode/feature stages. The Spark-side plumbing —
schema, Arrow batch shape, partitioning, ``mapInPandas`` signatures — is
real and tested, and so are four codecs covering the full
image/audio/video triad — all pure Python/numpy with only stdlib zlib:
``decode_bmp`` (uncompressed 24-bit BMP), ``decode_png`` (real 8-bit
PNG — full five-filter unfilter, grey/RGB/grey-alpha/RGBA, CRC-checked;
``encode_png`` rotates the row filter so every roundtrip exercises all
five), ``decode_wav`` (PCM 16-bit mono RIFF/WAVE; ``synth_audio_table``
emits real tones with assertable spectral features), and ``decode_avi``
(uncompressed-DIB RIFF AVI video with an n-frames/fps/motion feature).
``resize_media`` thumbnails BMP and PNG alike, re-encoding in the
input's container; ``sample_frames`` is the video→image bridge — every
k-th frame becomes a row whose payload is a real BMP, so the image
stages consume video unchanged. The ``decode_fn`` hook stays
injectable:

* default ``decode_media`` dispatches by media_type (image→BMP/PNG by
  magic sniff, audio→WAV) and dead-letters corrupt or unsupported
  payloads,
* ``fake_decode`` is the codec-free deterministic stand-in (md5-derived
  pseudo-features),
* ``strict_decode`` raises NotImplementedError — swap in a full decoder
  (PIL/torchaudio/ffmpeg) on a cluster with the libs installed for
  compressed formats.

Batch sizing matters more than usual here: media blobs are MBs, so the
media table repartitions by blob-size bins before the UDF to keep Arrow
batches bounded (the ``spark.sql.execution.arrow.maxRecordsPerBatch``
cap alone is row-count-based, not byte-based).
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def encode_bmp(width: int, height: int, rgb: np.ndarray) -> bytes:
    """Minimal uncompressed 24-bit BMP writer (BITMAPINFOHEADER).
    ``rgb``: uint8 array (height, width, 3), top-down RGB — stored
    bottom-up BGR with 4-byte row padding, per the format."""
    row_raw = width * 3
    pad = (4 - row_raw % 4) % 4
    bgr = rgb[::-1, :, ::-1]  # bottom-up, RGB->BGR
    if pad:
        padded = np.zeros((height, row_raw + pad), dtype=np.uint8)
        padded[:, :row_raw] = bgr.reshape(height, row_raw)
        data = padded.tobytes()
    else:
        data = bgr.tobytes()
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    return header + dib + data


def _image_feature(px: np.ndarray) -> np.ndarray:
    """Shared 8-dim image feature from an (h, w, 3) RGB uint8 array:
    [w/256, h/256, mean R,G,B /255, gray std/128, gray min/255,
    gray max/255] — identical pixels give identical features regardless
    of container format (BMP vs PNG, test-pinned)."""
    px = px.astype(np.float32)
    height, width = px.shape[:2]
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    gray = 0.299 * r + 0.587 * g + 0.114 * b
    return np.array(
        [
            width / 256.0,
            height / 256.0,
            float(r.mean()) / 255.0,
            float(g.mean()) / 255.0,
            float(b.mean()) / 255.0,
            float(gray.std()) / 128.0,
            float(gray.min()) / 255.0,
            float(gray.max()) / 255.0,
        ],
        dtype=np.float32,
    )


def decode_bmp(payload: bytes, media_type: str = "image") -> np.ndarray:
    """Pure-Python/numpy decoder for uncompressed 24-bit BMP → 8-dim
    feature (see :func:`_image_feature`). Raises (→ dead-letter row) on
    bad magic, unsupported bpp/compression, or truncated pixel data."""
    return _image_feature(_decode_bmp_pixels(payload))


PNG_SIG = b"\x89PNG\r\n\x1a\n"
# upper bound for the pure-Python PNG unfilter path (Average/Paeth rows
# are per-byte loops): ~1 MP ≈ low seconds per image worst-case; larger
# payloads dead-letter unless a real codec is injected (strict_decode)
PNG_MAX_PIXELS = 1_048_576


def encode_png(width: int, height: int, rgb: np.ndarray, color_type: int = 2) -> bytes:
    """Minimal real PNG writer (pure Python + stdlib zlib): 8-bit
    greyscale (0), RGB (2) or RGBA (6), non-interlaced. The row filter is
    ``y % 5`` — every PNG this emits exercises ALL five filter types
    (None/Sub/Up/Average/Paeth), so the decoder's unfilter paths are
    covered by any roundtrip."""
    if color_type == 0:
        ch = 1
        plane = rgb if rgb.ndim == 2 else rgb[..., 0]
        raw = plane.astype(np.uint8).reshape(height, width, 1)
    elif color_type == 2:
        ch = 3
        raw = rgb.astype(np.uint8).reshape(height, width, 3)
    elif color_type == 6:
        ch = 4
        if rgb.shape[-1] == 3:  # opaque alpha if caller passed RGB
            raw = np.concatenate(
                [rgb, np.full((height, width, 1), 255, dtype=np.uint8)], axis=-1
            )
        else:
            raw = rgb.astype(np.uint8).reshape(height, width, 4)
    else:
        raise ValueError(f"unsupported color_type {color_type}")

    def paeth(a, b, c):
        p = int(a) + int(b) - int(c)
        pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    stream = bytearray()
    prev = np.zeros(width * ch, dtype=np.uint8)
    for y in range(height):
        row = raw[y].reshape(-1)
        ft = y % 5
        stream.append(ft)
        if ft == 0:
            stream += row.tobytes()
        elif ft == 1:  # Sub
            out = row.astype(np.int16).copy()
            out[ch:] -= row[:-ch].astype(np.int16)
            stream += (out % 256).astype(np.uint8).tobytes()
        elif ft == 2:  # Up
            stream += ((row.astype(np.int16) - prev.astype(np.int16)) % 256).astype(np.uint8).tobytes()
        elif ft == 3:  # Average
            out = bytearray()
            for x in range(len(row)):
                a = int(row[x - ch]) if x >= ch else 0
                out.append((int(row[x]) - (a + int(prev[x])) // 2) % 256)
            stream += bytes(out)
        else:  # Paeth
            out = bytearray()
            for x in range(len(row)):
                a = int(row[x - ch]) if x >= ch else 0
                c = int(prev[x - ch]) if x >= ch else 0
                out.append((int(row[x]) - paeth(a, int(prev[x]), c)) % 256)
            stream += bytes(out)
        prev = row

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    idat = zlib.compress(bytes(stream))
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _decode_png_pixels(payload: bytes, max_pixels: int = PNG_MAX_PIXELS) -> np.ndarray:
    """(h, w, 3) RGB uint8 from an 8-bit non-interlaced PNG (grey, RGB,
    grey+alpha or RGBA; alpha is dropped, grey replicates to 3 channels).
    Pure Python + stdlib zlib — full unfilter (None/Sub/Up/Average/
    Paeth). Raises on bad signature, CRC mismatch, truncated chunks, or
    unsupported bit depth/interlace.

    None/Up/Sub rows unfilter as whole-row numpy ops (Sub is a per-lane
    running sum — ``cumsum % 256`` over a (pixels, channels) view);
    Average/Paeth carry an inherently sequential left-neighbor
    dependency and stay per-byte loops. Because decode_media sniff-routes
    every crawled PNG here, ``max_pixels`` (default ``PNG_MAX_PIXELS``)
    bounds the worst case: an oversized image raises — dead-lettering the
    row (ST6) — instead of spending minutes in the scalar loops; wire a
    real codec via the ``strict_decode`` injection point to lift it."""
    if len(payload) < 8 or payload[:8] != PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + clen]
        if len(data) != clen or pos + 12 + clen > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if depth != 8 or channels is None or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={color_type}, interlace={interlace})"
        )
    if width * height > max_pixels:
        raise ValueError(
            f"PNG too large for the pure-Python unfilter path "
            f"({width}x{height} > {max_pixels} px); inject a real codec "
            f"via strict_decode/decode_fn to handle it"
        )
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    ch = channels
    for y in range(height):
        ft = raw[y * (stride + 1)]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1).astype(np.int32)
        if ft == 0:
            cur = row
        elif ft == 1:  # Sub: per-lane running sum, mod-256-safe cumsum
            cur = row.reshape(-1, ch).cumsum(axis=0).reshape(-1) % 256
        elif ft == 2:  # Up
            cur = (row + prev) % 256
        elif ft == 3:  # Average
            cur = row.copy()
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + (a + prev[x]) // 2) % 256
        elif ft == 4:  # Paeth
            cur = row.copy()
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(height, width, channels)
    if color_type == 0:
        return np.repeat(px, 3, axis=2)
    if color_type == 2:
        return px
    if color_type == 4:
        return np.repeat(px[..., :1], 3, axis=2)
    return px[..., :3]  # RGBA -> RGB


def decode_png(payload: bytes, media_type: str = "image") -> np.ndarray:
    """Real PNG decoder (stdlib zlib + numpy) → the shared 8-dim image
    feature. Same pixels as a BMP give the identical feature vector."""
    return _image_feature(_decode_png_pixels(payload))


def _decode_image_pixels(payload: bytes) -> np.ndarray:
    """Container sniffer: BMP magic or PNG signature → (h, w, 3) RGB."""
    if payload[:2] == b"BM":
        return _decode_bmp_pixels(payload)
    if payload[:8] == PNG_SIG:
        return _decode_png_pixels(payload)
    raise ValueError("unknown image container (not BMP or PNG)")


def decode_image(payload: bytes, media_type: str = "image") -> np.ndarray:
    """Format-sniffing image decoder: BMP or PNG → 8-dim feature."""
    return _image_feature(_decode_image_pixels(payload))


def _synth_bmp(ref: str) -> tuple[bytes, int, int]:
    """Deterministic small real BMP from a media_ref: dims and pixels are
    pure functions of crc32(ref)."""
    c = zlib.crc32(ref.encode())
    w = 16 + (c % 16)
    h = 16 + ((c >> 4) % 16)
    px = ((c + 7 * np.arange(w * h * 3)) % 251).astype(np.uint8).reshape(h, w, 3)
    return encode_bmp(w, h, px), w, h


def _synth_png(ref: str) -> tuple[bytes, int, int]:
    """Deterministic small real PNG from a media_ref — same pixel recipe
    as :func:`_synth_bmp`, so the two containers are feature-identical
    for the same ref; rotates through RGB/RGBA color types (both keep
    all three channels)."""
    c = zlib.crc32(ref.encode())
    w = 16 + (c % 16)
    h = 16 + ((c >> 4) % 16)
    px = ((c + 7 * np.arange(w * h * 3)) % 251).astype(np.uint8).reshape(h, w, 3)
    # rotate RGB/RGBA only: color_type 0 would keep just the R channel
    # (the decoder replicates grey to RGB), breaking the BMP/PNG
    # feature-identity contract for ~1/3 of refs — greyscale decode is
    # covered separately by the roundtrip tests
    color_type = (2, 6)[c % 2]
    return encode_png(w, h, px, color_type=color_type), w, h


def synth_media_table(docs: DataFrame, formats: tuple[str, ...] = ("bmp",)) -> DataFrame:
    """Deterministic media rows from the docs table's media spans:
    payload = a real (tiny) image derived from the ref, so the decode
    stage exercises actual bytes; metadata matches the encoded dims.
    ``formats``: containers to rotate through per ref (crc-keyed) —
    ``("bmp",)`` default, ``("bmp", "png")`` for the mixed-container
    pipeline. Exists so the plumbing has real binary columns to move
    through shuffles and Arrow."""
    media = (
        docs.select("doc_id", F.explode("spans").alias("sp"))
        .filter(F.col("sp.kind") == "media")
        .select("doc_id", F.col("sp.media_ref").alias("media_ref"))
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs = pdf["media_ref"].tolist()
            encoded = []
            for r in refs:
                fmt = formats[zlib.crc32(r.encode()) % len(formats)]
                encoded.append(_synth_png(r) if fmt == "png" else _synth_bmp(r))
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "doc_id": pdf["doc_id"].tolist(),
                    "media_type": ["image"] * len(refs),
                    "payload": [e[0] for e in encoded],
                    "width": [e[1] for e in encoded],
                    "height": [e[2] for e in encoded],
                    "duration_s": [None] * len(refs),
                }
            )

    return media.mapInPandas(gen, MEDIA_SCHEMA)


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE writer: PCM 16-bit mono. ``samples``: int16."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav_samples(payload: bytes) -> tuple[np.ndarray, int]:
    """(int16 samples, sample_rate) from a PCM 16-bit mono RIFF/WAVE."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE magic")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        clen = struct.unpack_from("<I", payload, pos + 4)[0]
        if pos + 8 + clen > len(payload):
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data = payload[pos + 8 : pos + 8 + clen]
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, sample_rate, _br, _ba, bits = fmt
    if audio_format != 1 or channels != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV (format={audio_format}, channels={channels}, bits={bits})"
        )
    return np.frombuffer(data, dtype="<i2"), sample_rate


def decode_wav(payload: bytes, media_type: str = "audio") -> np.ndarray:
    """Pure-Python/numpy decoder for PCM 16-bit mono WAV → 8-dim feature
    [duration_s, rms, zero-crossing rate, peak, mean |x|, p10, p90,
    dominant_freq/nyquist]. Raises (→ dead-letter) on bad magic,
    truncated chunks, or unsupported format/channels/bits."""
    samples, sr = _decode_wav_samples(payload)
    if len(samples) == 0:
        raise ValueError("empty WAV data chunk")
    x = samples.astype(np.float64) / 32768.0
    zc = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
    spec = np.abs(np.fft.rfft(x))
    dom = float(np.argmax(spec)) / max(len(spec) - 1, 1)  # fraction of Nyquist
    return np.array(
        [
            len(x) / sr,
            float(np.sqrt(np.mean(x * x))),
            zc,
            float(np.max(np.abs(x))),
            float(np.mean(np.abs(x))),
            float(np.percentile(x, 10)),
            float(np.percentile(x, 90)),
            dom,
        ],
        dtype=np.float32,
    )


def synth_audio_table(spark, n: int = 20, sample_rate: int = 8000) -> DataFrame:
    """Deterministic real WAV rows: tone frequency/duration are pure
    functions of the ref's crc32 (a sine plus a small deterministic
    chirp), so decode features are reproducible and assertable."""
    refs = [f"aud://h.edu/{i}.wav" for i in range(n)]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {c: [] for c in MEDIA_SCHEMA.fieldNames()}
            for ref in pdf["media_ref"]:
                c = zlib.crc32(ref.encode())
                freq = 100 + (c % 1500)
                dur = 0.1 + ((c >> 8) % 5) * 0.05
                t = np.arange(int(sample_rate * dur)) / sample_rate
                wave = 0.5 * np.sin(2 * np.pi * freq * t) + 0.01 * np.sin(
                    2 * np.pi * (freq * 2.5) * t
                )
                samples = (wave * 32767).astype(np.int16)
                out["media_ref"].append(ref)
                out["doc_id"].append(None)
                out["media_type"].append("audio")
                out["payload"].append(encode_wav(samples, sample_rate))
                out["width"].append(None)
                out["height"].append(None)
                out["duration_s"].append(float(len(samples)) / sample_rate)
            yield pd.DataFrame(out)

    return local_frame(spark, [(r,) for r in refs], "media_ref string").mapInPandas(
        gen, MEDIA_SCHEMA
    )


# -- video: uncompressed-DIB AVI (RIFF), pure Python/numpy --------------------


def encode_avi(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """Minimal real AVI writer: RIFF 'AVI ' with an uncompressed 24-bit
    DIB video stream ('00db' frames, bottom-up BGR like BMP pixel data).
    Every frame must share one (h, w, 3) shape."""
    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    h, w = frames[0].shape[:2]
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    stride = row_raw + pad

    def dib(frame: np.ndarray) -> bytes:
        if frame.shape[:2] != (h, w):
            raise ValueError("frame shape mismatch")
        bgr = frame[::-1, :, ::-1]
        if pad:
            padded = np.zeros((h, stride), dtype=np.uint8)
            padded[:, :row_raw] = bgr.reshape(h, row_raw)
            return padded.tobytes()
        return bgr.tobytes()

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")

    def lst(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    frame_bytes = stride * h
    n = len(frames)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, frame_bytes * fps, 0, 0x10, n, 0, 1, frame_bytes, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n, frame_bytes, 0xFFFFFFFF, 0, 0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", dib(f)) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _decode_avi_frames(payload: bytes) -> tuple[list[np.ndarray], int]:
    """(RGB frames, fps) from an uncompressed-DIB AVI. Walks the RIFF
    tree: strh gives fps, strf (BITMAPINFOHEADER) gives dims/bpp, every
    '00db'/'00dw' chunk in the movi LIST is one bottom-up BGR frame."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an AVI: bad RIFF/AVI magic")
    fps, dims, frames_raw = None, None, []

    def walk(pos: int, end: int) -> None:
        nonlocal fps, dims
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", payload, pos + 4)
            body_end = pos + 8 + clen
            if body_end > end:
                raise ValueError("truncated AVI chunk")
            if cid == b"LIST":
                walk(pos + 12, body_end)
            elif cid == b"strh":
                stype, _handler, *_rest = struct.unpack_from("<4s4sIHHIIIII", payload, pos + 8)
                if stype == b"vids":
                    scale, rate = struct.unpack_from("<II", payload, pos + 8 + 20)
                    fps = max(1, rate // max(scale, 1))
            elif cid == b"strf" and dims is None:
                _sz, w, h, _planes, bpp = struct.unpack_from("<IiiHH", payload, pos + 8)
                if bpp != 24:
                    raise ValueError(f"unsupported AVI stream (bpp={bpp})")
                dims = (w, abs(h))
            elif cid in (b"00db", b"00dw"):
                frames_raw.append(payload[pos + 8 : body_end])
            pos = body_end + (clen & 1)

    walk(12, len(payload))
    if dims is None or not frames_raw:
        raise ValueError("AVI missing video stream header or frames")
    w, h = dims
    row_raw = w * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    frames = []
    for raw in frames_raw:
        if len(raw) < stride * h:
            raise ValueError("truncated AVI frame")
        arr = (
            np.frombuffer(raw, dtype=np.uint8, count=stride * h)
            .reshape(h, stride)[:, :row_raw]
            .reshape(h, w, 3)[::-1, :, ::-1]
        )
        frames.append(arr)
    return frames, fps or 10


def decode_avi(payload: bytes, media_type: str = "video") -> np.ndarray:
    """Real AVI decoder → 8-dim feature: [n_frames/100, fps/60,
    duration_s, mean gray/255, gray std/128, mean |frame delta|/255
    (motion), first-frame gray/255, last-frame gray/255]."""
    frames, fps = _decode_avi_frames(payload)
    grays = [
        (0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]).astype(np.float32)
        for f in frames
    ]
    motion = (
        float(np.mean([np.abs(a - b).mean() for a, b in zip(grays, grays[1:])]))
        if len(grays) > 1
        else 0.0
    )
    allg = np.stack(grays)
    return np.array(
        [
            len(frames) / 100.0,
            fps / 60.0,
            len(frames) / fps,
            float(allg.mean()) / 255.0,
            float(allg.std()) / 128.0,
            motion / 255.0,
            float(grays[0].mean()) / 255.0,
            float(grays[-1].mean()) / 255.0,
        ],
        dtype=np.float32,
    )


def synth_video_table(spark, n: int = 12, fps: int = 10) -> DataFrame:
    """Deterministic real AVI rows: a moving-gradient clip whose frame
    count, dims and drift are pure functions of the ref's crc32."""
    refs = [f"vid://h.edu/{i}.avi" for i in range(n)]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {c: [] for c in MEDIA_SCHEMA.fieldNames()}
            for ref in pdf["media_ref"]:
                c = zlib.crc32(ref.encode())
                w = 8 + (c % 8)
                h = 8 + ((c >> 3) % 8)
                nf = 4 + ((c >> 6) % 8)
                base = ((c + 11 * np.arange(h * w * 3)) % 251).astype(np.uint8).reshape(h, w, 3)
                frames = [np.roll(base, shift=k, axis=1) for k in range(nf)]
                out["media_ref"].append(ref)
                out["doc_id"].append(None)
                out["media_type"].append("video")
                out["payload"].append(encode_avi(frames, fps))
                out["width"].append(w)
                out["height"].append(h)
                out["duration_s"].append(nf / fps)
            yield pd.DataFrame(out)

    return local_frame(spark, [(r,) for r in refs], "media_ref string").mapInPandas(
        gen, MEDIA_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("ts_s", T.DoubleType(), True),
        T.StructField("payload", T.BinaryType(), True),  # frame as real BMP
        T.StructField("decode_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)


def sample_frames(
    media: DataFrame,
    every_n: int = 2,
    max_frames: int | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Frame-sampling stage (the training-pipeline operator for video
    columns): decode AVI → take every ``every_n``-th frame (capped at
    ``max_frames``) → one OUTPUT ROW PER FRAME with the frame re-encoded
    as a real BMP, timestamped ``frame_idx / fps``. Downstream image
    stages (extract_features, resize_media) consume the rows unchanged —
    video becomes just more image rows. Corrupt clips dead-letter as a
    single error row; batch sizing uses the same payload-size-binned
    repartition as extract_features."""
    spark = media.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    sized = media.withColumn(
        "_szbin", (F.log2(F.length("payload") + F.lit(1))).cast("int")
    ).repartition(parts, F.col("_szbin"), F.col("media_ref"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {c: [] for c in FRAME_SCHEMA.fieldNames()}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                try:
                    frames, fps = _decode_avi_frames(bytes(payload))
                    idxs = list(range(0, len(frames), every_n))
                    if max_frames is not None:
                        idxs = idxs[:max_frames]
                    for i in idxs:
                        h, w = frames[i].shape[:2]
                        out["media_ref"].append(ref)
                        out["frame_idx"].append(i)
                        out["ts_s"].append(i / fps)
                        out["payload"].append(encode_bmp(w, h, frames[i]))
                        out["decode_ok"].append(True)
                        out["error"].append(None)
                except Exception as e:  # dead-letter, not task failure
                    out["media_ref"].append(ref)
                    out["frame_idx"].append(None)
                    out["ts_s"].append(None)
                    out["payload"].append(None)
                    out["decode_ok"].append(False)
                    out["error"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(out)

    return sized.drop("_szbin").mapInPandas(run, FRAME_SCHEMA)


def decode_media(payload: bytes, media_type: str) -> np.ndarray:
    """Type-dispatching default decoder: image → BMP/PNG (sniffed by
    magic), audio → WAV, video → uncompressed-DIB AVI — all real
    pure-Python/numpy(+stdlib zlib) codecs; anything else dead-letters
    via strict_decode's error (inject a full decoder for other
    compressed formats)."""
    if media_type == "image":
        return decode_image(payload, media_type)
    if media_type == "audio":
        return decode_wav(payload, media_type)
    if media_type == "video":
        return decode_avi(payload, media_type)
    return strict_decode(payload, media_type)


def fake_decode(payload: bytes, media_type: str) -> np.ndarray:
    """Deterministic 8-dim pseudo-feature from the payload bytes."""
    h = hashlib.md5(payload).digest()
    return np.frombuffer(h[:8], dtype=np.uint8).astype(np.float32) / 255.0


def strict_decode(payload: bytes, media_type: str) -> np.ndarray:
    raise NotImplementedError(
        "real media decoding needs codec libraries (PIL/ffmpeg) not present "
        "in this container; inject a decoder via extract_features(decode_fn=...)"
    )


def _decode_bmp_pixels(payload: bytes) -> np.ndarray:
    """(h, w, 3) RGB uint8 array from an uncompressed 24-bit BMP — the
    shared parser behind decode_bmp and the resize transform."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP: bad magic/short header")
    offset = struct.unpack_from("<I", payload, 10)[0]
    _hdr, width, height = struct.unpack_from("<Iii", payload, 14)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    top_down = height < 0
    height = abs(height)
    row_raw = width * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    if width <= 0 or height <= 0 or len(payload) < offset + stride * height:
        raise ValueError("truncated BMP pixel data")
    arr = (
        np.frombuffer(payload, dtype=np.uint8, count=stride * height, offset=offset)
        .reshape(height, stride)[:, :row_raw]
        .reshape(height, width, 3)
    )
    if not top_down:
        arr = arr[::-1]
    return arr[:, :, ::-1]  # BGR -> RGB


def resize_media(
    media: DataFrame,
    width: int = 8,
    height: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """Thumbnail stage: decode (BMP or PNG, sniffed) → nearest-neighbor
    resize → re-encode in the INPUT's container format. Real bytes in,
    real bytes out (stdlib zlib covers PNG); corrupt payloads
    dead-letter like extract_features. The batch-size discipline matches
    extract_features: size-binned repartition bounds Arrow batch
    BYTES."""
    spark = media.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    sized = media.withColumn(
        "_szbin", (F.log2(F.length("payload") + F.lit(1))).cast("int")
    ).repartition(parts, F.col("_szbin"), F.col("media_ref"))

    out_schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("decode_ok", T.BooleanType(), False),
            T.StructField("error", T.StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys = None
        for pdf in batches:
            out = {"media_ref": [], "payload": [], "width": [], "height": [], "decode_ok": [], "error": []}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                out["media_ref"].append(ref)
                try:
                    raw = bytes(payload)
                    px = _decode_image_pixels(raw)
                    h0, w0 = px.shape[:2]
                    # nearest-neighbor index maps (deterministic)
                    yi = (np.arange(height) * h0 // height).clip(0, h0 - 1)
                    xi = (np.arange(width) * w0 // width).clip(0, w0 - 1)
                    thumb = px[yi][:, xi]
                    enc = encode_png if raw[:8] == PNG_SIG else encode_bmp
                    out["payload"].append(enc(width, height, thumb))
                    out["width"].append(width)
                    out["height"].append(height)
                    out["decode_ok"].append(True)
                    out["error"].append(None)
                except Exception as e:  # dead-letter, not task failure
                    out["payload"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["decode_ok"].append(False)
                    out["error"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(out)

    return sized.drop("_szbin").mapInPandas(run, out_schema)


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, str], np.ndarray] = decode_media,
    partitions: int | None = None,
) -> DataFrame:
    """Decode + featurize via mapInPandas; per-row failures become error
    rows (dead-letter pattern), never task failures."""
    spark = media.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    # bound Arrow batch BYTES: bin rows by payload size, partition on the bin
    sized = media.withColumn(
        "_szbin", (F.log2(F.length("payload") + F.lit(1))).cast("int")
    ).repartition(parts, F.col("_szbin"), F.col("media_ref"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_ref": [], "feature": [], "decode_ok": [], "error": []}
            for ref, payload, mtype in zip(pdf["media_ref"], pdf["payload"], pdf["media_type"]):
                out["media_ref"].append(ref)
                try:
                    feat = decode_fn(bytes(payload), mtype)
                    out["feature"].append([float(x) for x in feat])
                    out["decode_ok"].append(True)
                    out["error"].append(None)
                except Exception as e:  # dead-letter, not task failure
                    out["feature"].append(None)
                    out["decode_ok"].append(False)
                    out["error"].append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame(out)

    return sized.drop("_szbin").mapInPandas(run, FEATURE_SCHEMA)
