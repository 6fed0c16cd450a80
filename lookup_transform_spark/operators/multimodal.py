"""Multimodal columns (SURVEY.md §2.2 B54): opaque binary payloads with
typed metadata, plus decode / feature-extract / resize / frame-sample
plumbing as Arrow-batched ``mapInPandas`` stages.

Decode is REAL on two tiers:

1. Library codecs (optional): Pillow for images (PNG/JPEG/...),
   soundfile for audio (FLAC/OGG/...), imported lazily INSIDE the
   decode call, i.e. on the executor — the right place for an optional
   native dependency in a cluster deployment.
2. Built-in pure-numpy/stdlib codecs — PPM (P6), BMP (24-bit), and
   COMPRESSED PNG (zlib inflate + scanline unfiltering) for images;
   WAV (PCM 8/16/32-bit int, 32-bit float, and COMPRESSED G.711 µ-law)
   for audio — so the real decode path, including a compressed format
   per modality, executes and is tested even where the libraries
   aren't installed. Format is sniffed from the payload's magic bytes;
   library and built-in decoders are byte-exact-identical on the
   lossless containers.

An unrecognized format with no library present raises a clear
``NotImplementedError``. The Spark-side contract — schemas, batch
iteration, partitioning, binary transport through joins — is identical
on every path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pillow():
    """Import-guarded Pillow handle (None when not installed)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _soundfile():
    """Import-guarded soundfile handle (None when not installed)."""
    try:
        import soundfile  # noqa: PLC0415

        return soundfile
    except ImportError:
        return None


# ---------------------------------------------------------------------------
# Built-in pure-numpy codecs (uncompressed containers) — the tier that
# keeps the real decode path executable without Pillow/soundfile.
# Encoders exist for fixture/debug use; decoders are the product path.
# ---------------------------------------------------------------------------


def encode_ppm(img: np.ndarray) -> bytes:
    """Binary PPM (P6, maxval 255) from an HxWx3 uint8 array."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def _decode_ppm(payload: bytes) -> np.ndarray:
    """P6 PPM → HxWx3 uint8. Handles whitespace/comment-bearing headers
    per the netpbm spec."""
    # tokenize the header: P6, width, height, maxval; '#' starts a
    # comment running to end-of-line
    pos, tokens = 2, []
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    w, h, maxval = tokens
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255 not supported")
    pos += 1  # single whitespace byte after maxval
    return (
        np.frombuffer(payload, dtype=np.uint8, count=h * w * 3, offset=pos)
        .reshape(h, w, 3)
        .copy()
    )


def _decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → HxWx3 uint8 RGB (top-down output)."""
    import struct  # noqa: PLC0415

    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    if hdr_size < 40:
        # BITMAPCOREHEADER (12 bytes) lays out 16-bit w/h and bpp at
        # DIFFERENT offsets — parsing it with the INFOHEADER offsets
        # below reads garbage fields, which usually trips the bpp check
        # with a misleading message and in the unlucky (24, 0) case
        # silently decodes wrong pixels (r8 review). Fail honestly.
        raise NotImplementedError(
            f"built-in BMP decoder handles BITMAPINFOHEADER (>=40 bytes) "
            f"only, got header size {hdr_size}"
        )
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"built-in BMP decoder handles 24-bit uncompressed only "
            f"(got bpp={bpp}, compression={compression})"
        )
    bottom_up = h > 0
    h = abs(h)
    row = w * 3
    stride = row + ((-row) % 4)
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, :row].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def _decode_png(payload: bytes) -> np.ndarray:
    """Pure-stdlib PNG decode → HxWx3 uint8 RGB: zlib-inflates the IDAT
    stream and unfilters scanlines (all five PNG filter types). Supports
    bit depth 8, color types 0 (gray), 2 (RGB), 6 (RGBA → alpha
    dropped), no interlace — the shapes common writers emit.
    Byte-exact (PNG is lossless): round-trip pinned in
    tests/test_multimodal.py. Unfiltering for Sub/Average/Paeth is an
    inherently sequential per-byte recurrence — this built-in path is
    correctness-first; when Pillow is installed its C decoder is
    preferred (identical pixels, lossless format)."""
    import struct  # noqa: PLC0415
    import zlib  # noqa: PLC0415

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("PNG payload missing IHDR/IDAT")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in (0, 2, 6):
        raise NotImplementedError(
            f"built-in PNG decoder: unsupported depth={depth} "
            f"color={color} interlace={interlace} (8-bit gray/RGB/RGBA, "
            "non-interlaced)"
        )
    ch = {0: 1, 2: 3, 6: 4}[color]
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data length mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        f = raw[y * (stride + 1)]
        rec = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:
            pass
        elif f == 2:  # Up
            rec = (rec + prev) & 255
        elif f == 1:  # Sub
            for i in range(ch, stride):
                rec[i] = (rec[i] + rec[i - ch]) & 255
        elif f == 3:  # Average
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0
                rec[i] = (rec[i] + ((a + prev[i]) >> 1)) & 255
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(rec[i - ch]) if i >= ch else 0
                b = int(prev[i])
                c = int(prev[i - ch]) if i >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[i] = (rec[i] + pred) & 255
        else:
            raise ValueError(f"invalid PNG filter type {f}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    img = out.reshape(h, w, ch)
    if color == 0:
        img = np.repeat(img, 3, axis=2)
    elif color == 6:
        img = img[:, :, :3]
    return np.ascontiguousarray(img)


def _mulaw_compress(x16: np.ndarray) -> np.ndarray:
    """G.711 µ-law companding, int16 → uint8 (vectorized)."""
    bias, clip = 0x84, 32635
    x = x16.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.clip(np.abs(x), 0, clip) + bias
    exp = (np.floor(np.log2(mag)) - 7).astype(np.int32)
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def _mulaw_expand(u8: np.ndarray) -> np.ndarray:
    """G.711 µ-law expansion, uint8 → int16 (vectorized)."""
    bias = 0x84
    u = (~u8.astype(np.int32)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + bias) << exp) - bias
    return np.where(sign, -mag, mag).astype(np.int16)


def encode_wav(pcm: np.ndarray, subtype: str = "PCM_16") -> bytes:
    """8 kHz RIFF/WAVE from a 1-D float array in [-1, 1]. Subtypes:
    PCM_16, PCM_8 (unsigned), FLOAT (IEEE 32-bit), ULAW (G.711 µ-law —
    a real COMPRESSED audio format, 2:1 companded, stdlib/numpy
    only)."""
    import struct  # noqa: PLC0415

    pcm = np.asarray(pcm, dtype=np.float64).clip(-1.0, 1.0)
    if subtype == "PCM_16":
        fmt_tag, bits = 1, 16
        body = (pcm * 32767.0).round().astype("<i2").tobytes()
    elif subtype == "PCM_8":
        fmt_tag, bits = 1, 8
        body = ((pcm * 127.0).round() + 128).astype(np.uint8).tobytes()
    elif subtype == "FLOAT":
        fmt_tag, bits = 3, 32
        body = pcm.astype("<f4").tobytes()
    elif subtype == "ULAW":
        fmt_tag, bits = 7, 8
        body = _mulaw_compress(
            (pcm * 32767.0).round().astype(np.int16)
        ).tobytes()
    else:
        raise ValueError(f"unknown subtype {subtype!r}")
    block = bits // 8
    fmt = struct.pack("<HHIIHH", fmt_tag, 1, 8000, 8000 * block, block, bits)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(body))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(body))
        + body
    )


def _decode_wav(payload: bytes) -> np.ndarray:
    """RIFF/WAVE PCM (8/16/32-bit int, 32-bit float) → 1-D float32 in
    [-1, 1], channels mean-mixed to mono. Chunk-walks the container, so
    extra chunks (LIST/fact/...) are tolerated."""
    import struct  # noqa: PLC0415

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV payload missing fmt/data chunk")
    fmt_tag, channels, _rate, _bps, _block, bits = fmt
    if fmt_tag == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float32) / 32768.0
    elif fmt_tag == 1 and bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    elif fmt_tag == 1 and bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float32) / 2147483648.0
    elif fmt_tag == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype(np.float32)
    elif fmt_tag == 7 and bits == 8:  # G.711 µ-law (compressed)
        x = (
            _mulaw_expand(np.frombuffer(data, dtype=np.uint8))
            .astype(np.float32) / 32768.0
        )
    else:
        raise NotImplementedError(
            f"built-in WAV decoder: unsupported format tag={fmt_tag} "
            f"bits={bits}"
        )
    if channels > 1:
        x = x[: len(x) - len(x) % channels].reshape(-1, channels).mean(axis=1)
    return x.astype(np.float32)

#: schema of the feature-extraction stage output
FEATURE_SCHEMA = (
    "doc_id long, payload_len int, mean_byte double, byte_entropy double, "
    "feature array<float>"
)


def attach_payload(
    df: DataFrame, id_col: str, text_col: str, meta_cols: list[str]
) -> DataFrame:
    """Build a multimodal frame: binary payload + metadata struct. In a
    real pipeline the payload column comes from
    ``spark.read.format("binaryFile")`` or a parquet binary column."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(*[F.col(c) for c in meta_cols]).alias("meta"),
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to an HxWx3 uint8 RGB array.

    The built-in pure-numpy decoders for PPM/BMP (sniffed by magic
    bytes — byte-exact, no dependency), Pillow for everything else
    (PNG/JPEG/..., lazily imported on the executor)."""
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    Image = _pillow()
    if Image is None and payload[:8] == b"\x89PNG\r\n\x1a\n":
        # PNG is lossless: the built-in decoder returns the same
        # pixels Pillow would; Pillow (C) is preferred when present
        return _decode_png(payload)
    if Image is None:
        raise NotImplementedError(
            "image decode of this format requires Pillow (pip install "
            "pillow) on the executors; PPM/BMP/PNG decode is built in"
        )
    import io  # noqa: PLC0415

    with Image.open(io.BytesIO(payload)) as img:
        return np.asarray(img.convert("RGB"))


def decode_audio(payload: bytes) -> np.ndarray:
    """Decode an audio payload to a 1-D float32 PCM array (mono-mixed).

    The built-in pure-numpy WAV/PCM decoder (sniffed by the RIFF magic —
    no dependency), soundfile for everything else (FLAC/OGG/..., lazily
    imported on the executor)."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return _decode_wav(payload)
    sf = _soundfile()
    if sf is None:
        raise NotImplementedError(
            "audio decode of this format requires soundfile (pip "
            "install soundfile) on the executors; WAV/PCM decode is "
            "built in"
        )
    import io  # noqa: PLC0415

    data, _rate = sf.read(io.BytesIO(payload), dtype="float32")
    if data.ndim > 1:  # mix channels down to mono
        data = data.mean(axis=1)
    return data


def resize_image(
    img: np.ndarray, height: int, width: int
) -> np.ndarray:
    """Nearest-neighbor resize, pure numpy (no codec dependency) — the
    post-decode normalization step of an image pipeline. Deterministic,
    so resized features stay oracle-comparable."""
    h, w = img.shape[:2]
    rows = (np.arange(height) * h // height).clip(0, h - 1)
    cols = (np.arange(width) * w // width).clip(0, w - 1)
    return img[rows[:, None], cols[None, :]]


def extract_features(
    frame: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas — the
    Arrow-batched shape a real decoder plugs into (one numpy pass per
    batch, no per-row Python). ``id_col``/``payload_col`` name the
    input columns (hardcoding them surfaced as an opaque executor
    KeyError on renamed frames).

    Features here are raw-byte statistics: payload length, mean byte
    value, byte entropy, and an 8-bin byte histogram as array<float>.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    # NULL payload (e.g. NULL source text): the row
                    # survives with NULL features, like every SQL stat
                    # of a missing input — bytes(None) is a TypeError
                    # that would kill the whole stage on one dirty row
                    # (r8 review)
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "payload_len": None,
                            "mean_byte": None,
                            "byte_entropy": None,
                            "feature": None,
                        }
                    )
                    continue
                # every emitted feature derives from the RAW bytes — no
                # decode step here (a decode call whose result feeds
                # nothing would waste a per-row conversion and, on
                # non-audio payloads, crash a stage whose features
                # never needed the samples)
                byts = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.histogram(byts, bins=8, range=(0, 256))[0]
                p = hist / max(1, byts.size)
                nz = p[p > 0]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "payload_len": int(byts.size),
                        "mean_byte": float(byts.mean()) if byts.size else 0.0,
                        "byte_entropy": float(-(nz * np.log2(nz)).sum()),
                        "feature": (hist.astype(np.float32) / max(1, byts.size)),
                    }
                )
            yield pd.DataFrame(rows)

    return frame.mapInPandas(_extract, FEATURE_SCHEMA)


#: schema of the real-decode statistics stage output
DECODE_SCHEMA = (
    "doc_id long, modality string, height int, width int, n_samples int, "
    "mean_value double"
)


def decode_stats(frame: DataFrame) -> DataFrame:
    """REAL-decode statistics over mixed-modality payloads: dispatch
    each ``payload`` to the image or audio decoder by its ``modality``
    tag and emit shape + mean statistics per ``doc_id``.

    This is the executable form of the B54 claim: actual container
    parsing (PPM/BMP/WAV via the built-in codecs, PNG/JPEG/FLAC/... via
    Pillow/soundfile when installed) runs on the executors inside an
    Arrow-batched ``mapInPandas``.
    Audio reports (1, n_samples); images report (height, width).
    """

    def _null_stats(i, m):
        # NULL payload / unknown modality: the row survives with NULL
        # stats (the extract_features contract) — bytes(None) is a
        # TypeError and a misdispatched decoder a misleading codec
        # error, either of which would kill the whole stage on one
        # dirty row (r8 review)
        return {
            "doc_id": i, "modality": m, "height": None, "width": None,
            "n_samples": None, "mean_value": None,
        }

    def _dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, p, m in zip(pdf["doc_id"], pdf["payload"], pdf["modality"]):
                if p is None or m not in ("image", "audio"):
                    rows.append(_null_stats(i, m))
                    continue
                b = bytes(p)
                if m == "image":
                    img = decode_image(b)
                    rows.append(
                        {
                            "doc_id": i,
                            "modality": m,
                            "height": int(img.shape[0]),
                            "width": int(img.shape[1]),
                            "n_samples": int(img.size),
                            "mean_value": float(img.mean()),
                        }
                    )
                else:
                    pcm = decode_audio(b)
                    rows.append(
                        {
                            "doc_id": i,
                            "modality": m,
                            "height": 1,
                            "width": int(pcm.size),
                            "n_samples": int(pcm.size),
                            "mean_value": float(pcm.mean()) if pcm.size else 0.0,
                        }
                    )
            yield pd.DataFrame(rows)

    return frame.mapInPandas(_dec, DECODE_SCHEMA)


def frame_sample(frame: DataFrame, every_nth: int = 10) -> DataFrame:
    """Frame-sampling stand-in: deterministically keep every Nth payload
    by id — the partition-pruning-friendly shape of video frame
    sampling (filter before decode, never after)."""
    return frame.filter(F.col("doc_id") % every_nth == 0)
