"""Multimodal columns: image/audio/video as opaque binary + metadata.

Training-data-pipeline tier (net-new vs the reference; the nearest
reference surface is the one-image-per-file raster loader
`STSparkContext.loadNanoFiles`, `STSparkContext.scala:561-621`).

Design: media rides in a ``content: binary`` column with a typed
metadata struct; decode / feature-extract / hash passes are
``mapInPandas`` passes (Arrow batches, numpy kernels). Decoder
resolution order per blob:

1. **PIL**, when installed (any format);
2. **PNG**: the repo's own pure stdlib/numpy reader
   (`functions.visualize._png_decode` — 8-bit gray/RGB/RGBA, all five
   scanline filters) — REAL image decoding with zero native deps,
   round-trip-tested against the matching in-repo encoder;
3. **baseline JPEG**: the repo's own reader
   (`functions.visualize._jpeg_decode` — SOF0 gray/YCbCr incl.
   4:2:2/4:2:0 subsampling and restart markers), round-trip-tested
   against the in-repo encoder;
4. anything else (e.g. progressive JPEG): a DETERMINISTIC FAKE
   (clearly marked) that synthesizes pixels from the bytes' md5, so
   those pipelines still exercise the full Spark plumbing in this
   container.

Every downstream kernel (stats, perceptual hashes, fingerprints) is
REAL numpy math regardless of which decoder fired.

At scale: binary payloads never shuffle — all passes are narrow
projections; metadata-only pipelines should ``select`` away ``content``
first (column pruning drops the bytes at the parquet scan).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)
from stark_spark.materialize import materialize

FAKE_DECODE = True
try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401
    FAKE_DECODE = False
except Exception:
    pass


def read_binary_dir(spark: SparkSession, path: str,
                    pattern: str = "*") -> DataFrame:
    """Directory of media files → (path, modificationTime, length,
    content) — the `loadNanoFiles` equivalent on the built-in
    binaryFile source (one row per file, content pruned unless used)."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", pattern).load(path))


def _fake_decode_image(content: bytes) -> np.ndarray:
    """DETERMINISTIC FAKE image decode (container has no PIL): shape
    and pixels derived from md5(content). Replace with PIL decode in a
    real deployment — downstream kernels are unchanged."""
    h = hashlib.md5(content).digest()
    w = 16 + h[0] % 48
    ht = 16 + h[1] % 48
    rng = np.random.RandomState(int.from_bytes(h[2:6], "little"))
    return rng.randint(0, 256, size=(ht, w, 3), dtype=np.uint8)


def _decode(content: bytes) -> np.ndarray:
    if not FAKE_DECODE:  # pragma: no cover
        import io
        from PIL import Image
        return np.asarray(Image.open(io.BytesIO(content)).convert("RGB"))
    if content[:8] == b"\x89PNG\r\n\x1a\n":
        from stark_spark.functions.visualize import _png_decode
        arr = _png_decode(content)
        if arr.ndim == 2:                       # gray -> RGB
            arr = np.repeat(arr[:, :, None], 3, axis=2)
        return np.ascontiguousarray(arr[:, :, :3])   # RGBA -> RGB
    if content[:2] == b"\xFF\xD8":
        # REAL baseline-JPEG decode via the in-repo stdlib/numpy
        # reader (gray + YCbCr); only non-baseline streams (e.g.
        # progressive) fall through to the deterministic fake
        from stark_spark.functions.visualize import _jpeg_decode
        try:
            arr = _jpeg_decode(content)
        except Exception:
            return _fake_decode_image(content)
        if arr.ndim == 2:
            arr = np.repeat(arr[:, :, None], 3, axis=2)
        return np.ascontiguousarray(arr)
    return _fake_decode_image(content)


_FEAT_SCHEMA = StructType([
    StructField("path", StringType()), StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("mean_rgb", ArrayType(DoubleType())),
    StructField("std_rgb", ArrayType(DoubleType())),
])


def image_features(df: DataFrame, content_col: str = "content",
                   key_col: str = "path") -> DataFrame:
    """Decode + per-channel mean/std — one narrow Arrow pass."""
    def run(batches):
        for pdf in batches:
            rows = []
            for key, content in zip(pdf[key_col], pdf[content_col]):
                arr = _decode(bytes(content)).astype(np.float64)
                rows.append((key, arr.shape[1], arr.shape[0],
                             list(arr.mean(axis=(0, 1))),
                             list(arr.std(axis=(0, 1)))))
            yield pd.DataFrame(rows, columns=[f.name for f in _FEAT_SCHEMA])

    return df.select(key_col, content_col).mapInPandas(run, _FEAT_SCHEMA)


# --------------------------------------------------------------- phash

def _dct2_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (type-II, norm='ortho')."""
    k = np.arange(n)[:, None]
    m = np.arange(n)[None, :]
    c = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
    c[0] /= np.sqrt(2.0)
    return c


_DCT32 = _dct2_matrix(32)


def phash64(arr: np.ndarray) -> int:
    """64-bit perceptual hash (classic pHash recipe): RGB → ITU-R 601
    luma → 32x32 area-mean resample → orthonormal 2-D DCT-II →
    top-left 8x8 block → threshold at the median of the 63 non-DC
    coefficients → 64 bits MSB-first (signed int64, Spark LongType).

    Near-duplicate images (re-encodes, mild noise, small edits) land
    within a few bits; unrelated images differ in ~32."""
    a = arr.astype(np.float64)
    luma = (0.299 * a[..., 0] + 0.587 * a[..., 1]
            + 0.114 * a[..., 2]) if a.ndim == 3 else a
    h, w = luma.shape
    # nearest-upsample tiny axes so every 32-bin is non-empty
    if h < 32:
        luma = luma[np.arange(32) * h // 32]
        h = 32
    if w < 32:
        luma = luma[:, np.arange(32) * w // 32]
        w = 32
    rbin = np.arange(h) * 32 // h
    cbin = np.arange(w) * 32 // w
    rsum = np.zeros((32, w))
    np.add.at(rsum, rbin, luma)
    rows = rsum / np.bincount(rbin, minlength=32)[:, None]
    csum = np.zeros((32, 32))
    np.add.at(csum.T, cbin, rows.T)
    small = csum / np.bincount(cbin, minlength=32)[None, :]
    d = (_DCT32 @ small @ _DCT32.T)[:8, :8].ravel()
    med = np.median(d[1:])
    bits = d > med
    v = 0
    for j in range(64):
        if bits[j]:
            v |= 1 << (63 - j)
    return v - (1 << 64) if v >= (1 << 63) else v


_PHASH_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("phash", LongType()),
])


def image_phash(df: DataFrame, content_col: str = "content",
                key_col: str = "path") -> DataFrame:
    """Decode + perceptual hash per image — one narrow Arrow pass over
    (key, content); output (key, phash int64)."""
    def run(batches):
        for pdf in batches:
            rows = [(key, phash64(_decode(bytes(content))))
                    for key, content in zip(pdf[key_col],
                                            pdf[content_col])]
            yield pd.DataFrame(rows,
                               columns=[f.name for f in _PHASH_SCHEMA])

    return df.select(key_col, content_col).mapInPandas(run, _PHASH_SCHEMA)


def image_dup_pairs(df: DataFrame, *, max_hamming: int = 8,
                    content_col: str = "content",
                    key_col: str = "path") -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual hash each image, then
    hamming-band the 64-bit hashes exactly like SimHash text dedup
    (`dedup.hamming_near_pairs`): pigeonhole banding → band equi-join
    → exact bit_count verify — never all-pairs. Output (a, b,
    hamming). The phash frame is materialized so the banded
    self-join decodes each image once, not 2·(d+1) times."""
    from stark_spark.operators.dedup import hamming_near_pairs
    fp = materialize(image_phash(df, content_col, key_col))
    return hamming_near_pairs(fp, key_col, fp_col="phash",
                              max_hamming=max_hamming)


# ------------------------------------------------------- audio fingerprint

def decode_pcm16(content: bytes) -> np.ndarray:
    """REAL audio decode for raw 16-bit little-endian PCM (no codec
    library required) → float64 samples in [-1, 1)."""
    n = len(content) - (len(content) % 2)   # tolerate a truncated tail
    return np.frombuffer(content, dtype="<i2", count=n // 2) \
        .astype(np.float64) / 32768.0


def decode_wav(content: bytes) -> np.ndarray:
    """REAL decode for the canonical RIFF/WAVE container (PCM16, the
    universal interchange format — no codec library required): walk
    the chunk list (word-aligned), read `fmt ` + `data`, reject
    non-PCM / non-16-bit encodings, downmix multichannel to mono by
    per-frame channel mean → float64 samples in [-1, 1)."""
    import struct
    if (len(content) < 12 or content[:4] != b"RIFF"
            or content[8:12] != b"WAVE"):
        raise ValueError("not a RIFF/WAVE file")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos:pos + 4]
        size = struct.unpack("<I", content[pos + 4:pos + 8])[0]
        body = content[pos + 8:pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)    # odd-sized chunks are padded
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, n_ch = struct.unpack("<HH", fmt[:4])
    bits = struct.unpack("<H", fmt[14:16])[0]
    if audio_fmt != 1 or bits != 16 or n_ch < 1:
        raise ValueError(
            f"unsupported WAV encoding: fmt={audio_fmt} bits={bits}")
    s = decode_pcm16(data)
    if n_ch > 1:
        s = s[:len(s) // n_ch * n_ch].reshape(-1, n_ch).mean(axis=1)
    return s


def encode_wav(samples: np.ndarray, *, rate: int = 8000,
               n_ch: int = 1) -> bytes:
    """Encode int16 samples (interleaved if n_ch > 1) as a canonical
    44-byte-header RIFF/WAVE PCM16 file — the inverse of
    `decode_wav`, used by fixtures and tests."""
    import struct
    s = np.asarray(samples, dtype="<i2").tobytes()
    block = 2 * n_ch
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(s)) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, n_ch, rate,
                                   rate * block, block, 16)
           + b"data" + struct.pack("<I", len(s)))
    return hdr + s


def _decode_audio(content: bytes, path: str) -> np.ndarray:
    if content[:4] == b"RIFF":           # sniff magic, not extension
        try:
            return decode_wav(content)
        except ValueError:
            pass      # corrupt/compressed wav → deterministic fake
    elif path.endswith((".pcm", ".raw")):
        try:
            return decode_pcm16(content)
        except ValueError:
            pass      # corrupt file → deterministic fake, like images
    else:
        # compressed containers (mp3/flac/ogg) need codec libs this
        # environment lacks: deterministic fake keeps the plumbing real
        pass
    h = hashlib.md5(content).digest()
    rng = np.random.RandomState(int.from_bytes(h[:4], "little"))
    return rng.standard_normal(1000 + h[4] % 1000)


def audio_fingerprint64(wave: np.ndarray) -> int:
    """64-bit audio fingerprint: frame the waveform into 65 equal
    bins, take per-frame energy, hash the SIGN of consecutive energy
    deltas (64 bits MSB-first). Gain-invariant by construction
    (scaling multiplies every energy equally), robust to mild noise
    (energy ordering between neighboring frames survives), and two
    unrelated recordings agree on ~32 bits."""
    w = np.asarray(wave, dtype=np.float64)
    frames = 65
    if len(w) < frames:
        w = np.pad(w, (0, frames - len(w)))
    fbin = np.arange(len(w)) * frames // len(w)
    cnt = np.bincount(fbin, minlength=frames)
    e = np.bincount(fbin, weights=w * w, minlength=frames) \
        / np.maximum(cnt, 1)
    d = np.diff(e)
    v = 0
    for j in range(64):
        if d[j] > 0:
            v |= 1 << (63 - j)
    return v - (1 << 64) if v >= (1 << 63) else v


_AFP_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("afp", LongType()),
])


def audio_fingerprint(df: DataFrame, content_col: str = "content",
                      key_col: str = "path") -> DataFrame:
    """Decode (+fake fallback) + fingerprint per file — one narrow
    Arrow pass; output (key, afp int64)."""
    def run(batches):
        for pdf in batches:
            rows = [(key, audio_fingerprint64(
                        _decode_audio(bytes(content), str(key))))
                    for key, content in zip(pdf[key_col],
                                            pdf[content_col])]
            yield pd.DataFrame(rows,
                               columns=[f.name for f in _AFP_SCHEMA])

    return df.select(key_col, content_col).mapInPandas(run, _AFP_SCHEMA)


def audio_dup_pairs(df: DataFrame, *, max_hamming: int = 8,
                    content_col: str = "content",
                    key_col: str = "path") -> DataFrame:
    """Near-duplicate AUDIO pairs: fingerprint each file, then the
    same pigeonhole hamming banding as text SimHash / image phash
    (`dedup.hamming_near_pairs`). Output (a, b, hamming)."""
    from stark_spark.operators.dedup import hamming_near_pairs
    fp = materialize(audio_fingerprint(df, content_col, key_col))
    return hamming_near_pairs(fp, key_col, fp_col="afp",
                              max_hamming=max_hamming)


# ------------------------------------------------------- video (raw RGB)

_RVID_MAGIC = b"RVID"


def encode_rawvideo(frames: np.ndarray) -> bytes:
    """Encode an (n, h, w, 3) uint8 frame stack as the trivial RVID
    container: magic + u32 (n, h, w) + raw RGB bytes. A codec-free
    REAL video format (the moving-picture analogue of raw PCM16) so
    the frame pipeline runs on actual pixels in this environment."""
    import struct
    n, h, w, c = frames.shape
    assert c == 3 and frames.dtype == np.uint8
    return (_RVID_MAGIC + struct.pack("<III", n, h, w)
            + np.ascontiguousarray(frames).tobytes())


def decode_rawvideo(content: bytes) -> np.ndarray:
    """REAL decode of the RVID container → (n, h, w, 3) uint8."""
    import struct
    if content[:4] != _RVID_MAGIC:
        raise ValueError("not an RVID stream")
    n, h, w = struct.unpack_from("<III", content, 4)
    if len(content) < 16 + n * h * w * 3:
        raise ValueError("truncated RVID stream")
    return np.frombuffer(content, dtype=np.uint8, count=n * h * w * 3,
                         offset=16).reshape(n, h, w, 3)


_MJPG_FOURCC = 0x47504A4D        # b"MJPG" as little-endian uint32


def decode_avi(content: bytes) -> np.ndarray:
    """REAL decode for RIFF/AVI: walk the nested chunk tree, read the
    stream format (BITMAPINFOHEADER in 'strf'), then every '00db' /
    '00dc' frame in the 'movi' LIST. Two codecs:

    * **BI_RGB 24-bit DIB** (biCompression=0) — the codec-free
      interchange form; rows are bottom-up BGR with 4-byte padding.
    * **MJPG** — each frame is a standalone baseline JPEG, decoded
      with the in-repo stdlib/numpy JPEG reader
      (`functions/visualize._jpeg_decode`). Frames must carry their
      own DHT segments (the common form; AVIs relying on the implied
      default tables raise from the JPEG layer). Grayscale frames
      are replicated to 3 channels.

    Output is top-down RGB (n, h, w, 3) uint8; other codecs raise."""
    import struct
    if (len(content) < 12 or content[:4] != b"RIFF"
            or content[8:12] != b"AVI "):
        raise ValueError("not a RIFF/AVI file")
    dims: list[tuple[int, int, int]] = []
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int, in_movi: bool) -> None:
        while pos + 8 <= end:
            cid = buf[pos:pos + 4]
            size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
            body_end = min(pos + 8 + size, end)
            if cid == b"LIST" and body_end >= pos + 12:
                ltype = buf[pos + 8:pos + 12]
                walk(buf, pos + 12, body_end,
                     in_movi or ltype == b"movi")
            elif cid == b"strf" and size >= 40:
                (bi_size, w, h, planes, bits, comp) = struct.unpack(
                    "<IiiHHI", buf[pos + 8:pos + 28])
                if comp not in (0, _MJPG_FOURCC) or (
                        comp == 0 and bits != 24):
                    raise ValueError(
                        f"unsupported AVI: compression={comp} "
                        f"bits={bits} (BI_RGB 24-bit or MJPG only)")
                dims.append((w, abs(h), comp))
            elif in_movi and cid[2:4] in (b"db", b"dc"):
                frames.append(buf[pos + 8:body_end])
            pos += 8 + size + (size & 1)       # chunks word-aligned

    walk(content, 12, len(content), False)
    if not dims or not frames:
        raise ValueError("AVI missing strf/movi frames")
    w, h, comp = dims[0]
    if comp == _MJPG_FOURCC:
        from stark_spark.functions.visualize import _jpeg_decode
        decoded = []
        for fb in frames:
            arr = _jpeg_decode(bytes(fb))
            if arr.ndim == 2:
                arr = np.repeat(arr[:, :, None], 3, axis=2)
            decoded.append(arr)
        if len({a.shape for a in decoded}) != 1:
            raise ValueError("AVI MJPG frames disagree on size")
        return np.stack(decoded)
    stride = (w * 3 + 3) & ~3
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for i, fb in enumerate(frames):
        if len(fb) < stride * h:
            raise ValueError("truncated AVI frame")
        rows = np.frombuffer(fb, dtype=np.uint8,
                             count=stride * h).reshape(h, stride)
        bgr = rows[:, :w * 3].reshape(h, w, 3)
        out[i] = bgr[::-1, :, ::-1]            # bottom-up BGR → RGB
    return out


def encode_avi(frames: np.ndarray, *, fps: int = 25,
               codec: str = "DIB") -> bytes:
    """Encode an (n, h, w, 3) uint8 RGB stack as a minimal AVI — the
    inverse of `decode_avi`, used by fixtures and tests.

    ``codec="DIB"``: BI_RGB 24-bit '00db' frames (bottom-up BGR rows
    padded to 4 bytes, lossless). ``codec="MJPG"``: each frame is a
    standalone baseline JPEG from the in-repo encoder (luminance-only
    — the honest limitation of the stdlib codec — so a decode
    roundtrip returns the gray image replicated to RGB; lossy, but
    phash-stable)."""
    import struct
    n, h, w, c = frames.shape
    assert c == 3 and frames.dtype == np.uint8
    if codec not in ("DIB", "MJPG"):
        raise ValueError(f"unsupported codec {codec!r}")
    stride = (w * 3 + 3) & ~3
    frame_bytes = []
    if codec == "MJPG":
        from stark_spark.functions.visualize import _jpeg_encode
        frame_bytes = [_jpeg_encode(f) for f in frames]
    else:
        for f in frames:
            bgr = f[::-1, :, ::-1]             # top-down RGB → DIB
            row = np.zeros((h, stride), dtype=np.uint8)
            row[:, :w * 3] = bgr.reshape(h, w * 3)
            frame_bytes.append(row.tobytes())
    fsize = (stride * h if codec == "DIB"
             else max(len(fb) for fb in frame_bytes))

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    handler = b"DIB " if codec == "DIB" else b"MJPG"
    bi_comp = 0 if codec == "DIB" else _MJPG_FOURCC
    frame_cid = b"00db" if codec == "DIB" else b"00dc"
    avih = struct.pack("<14I", 1_000_000 // fps, fsize * fps, 0, 0x10,
                       n, 0, 1, fsize, w, h, 0, 0, 0, 0)
    strh = (b"vids" + handler + struct.pack("<I", 0)
            + struct.pack("<HHI", 0, 0, 0)
            + struct.pack("<7I", 1, fps, 0, n, fsize, 0, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, bi_comp,
                       fsize, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(frame_cid, fb)
                                 for fb in frame_bytes))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


_VFP_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("frame_no", IntegerType()),
    StructField("phash", LongType()),
])


def video_frame_phash(df: DataFrame, every_n: int = 2, *,
                      content_col: str = "content",
                      key_col: str = "path") -> DataFrame:
    """Per-sampled-frame perceptual hashes: RVID streams and
    uncompressed RIFF/AVI files decode for real (magic-sniffed);
    compressed containers synthesize deterministic fake frames
    (md5-derived). Row growth happens inside the Arrow batch.
    Output (key, frame_no, phash)."""
    def run(batches):
        for pdf in batches:
            rows = []
            for key, content in zip(pdf[key_col], pdf[content_col]):
                b = bytes(content)
                stack = None
                if b[:4] == _RVID_MAGIC:
                    try:
                        stack = decode_rawvideo(b)
                    except ValueError:
                        stack = None   # corrupt stream → fake frames
                elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
                    try:
                        stack = decode_avi(b)
                    except ValueError:
                        stack = None   # compressed/corrupt → fake
                if stack is not None:
                    for fno in range(0, len(stack), every_n):
                        rows.append((key, fno, phash64(stack[fno])))
                else:
                    n_frames = 8 + hashlib.md5(b).digest()[6] % 25
                    for fno in range(0, n_frames, every_n):
                        arr = _decode(b + fno.to_bytes(4, "little"))
                        rows.append((key, fno, phash64(arr)))
            yield pd.DataFrame(rows,
                               columns=[f.name for f in _VFP_SCHEMA])

    return df.select(key_col, content_col).mapInPandas(run, _VFP_SCHEMA)


def video_dup_pairs(df: DataFrame, *, max_hamming: int = 8,
                    min_frames: int = 2, every_n: int = 2,
                    content_col: str = "content",
                    key_col: str = "path") -> DataFrame:
    """Near-duplicate VIDEO pairs: phash every sampled frame, band the
    frame hashes exactly like image/text dedup, then require
    ``min_frames`` independent near-matching frame pairs as evidence
    (one lucky frame collision is not a duplicate video). Output
    (a, b, n_frames_matched, min_hamming).

    Scale shape: frames explode inside the Arrow batch; the pair join
    is the banded `hamming_near_pairs` over (video, frame) keys —
    never all-pairs across videos — and the evidence aggregation is
    one groupBy over the surviving frame pairs."""
    from stark_spark.operators.dedup import hamming_near_pairs
    fp = materialize(video_frame_phash(df, every_n, content_col=content_col,
                                       key_col=key_col)
                     .select(F.concat_ws("#", F.col(key_col),
                                         F.col("frame_no").cast("string"))
                             .alias("vf"), "phash"))
    pairs = hamming_near_pairs(fp, "vf", fp_col="phash",
                               max_hamming=max_hamming)
    # recover the video by stripping only the TRAILING '#<frame>'
    # segment — a path may itself contain '#' (URL-derived corpora),
    # so substring_index at the FIRST '#' would corrupt identity
    va = F.regexp_replace(F.col("a"), r"#\d+$", "")
    vb = F.regexp_replace(F.col("b"), r"#\d+$", "")
    return (pairs.select(F.least(va, vb).alias("va"),
                         F.greatest(va, vb).alias("vb"), "hamming")
                 .where(F.col("va") != F.col("vb"))
                 .groupBy(F.col("va").alias("a"), F.col("vb").alias("b"))
                 .agg(F.count("*").alias("n_frames_matched"),
                      F.min("hamming").alias("min_hamming"))
                 .where(F.col("n_frames_matched") >= min_frames))
