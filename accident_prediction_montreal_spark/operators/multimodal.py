"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` (north-star extension).

Image/video decode libraries (PIL/ffmpeg/librosa) are not in this
container, so THOSE decode steps are stubbed: ``decode_stub='fake'``
produces a deterministic feature vector from the bytes (plumbing fully
exercised), ``decode_stub='raise'`` raises NotImplementedError where a
real decoder would plug in. WAV/PCM audio, however, is decoded FOR REAL:
``decode_wav`` below is a dependency-free RIFF chunk walker (stdlib
struct + numpy), and ``wav_features`` runs it inside the same Arrow
batch loop — so one codec exercises the full payload->decode->features
path under a value oracle. Everything around the decode — schema
contract, Arrow batching, partition sizing, UDF signature — is the real
design:

  * payloads travel as ``binary`` columns; metadata (width/height/format/
    duration) as plain typed columns so filters on metadata prune BEFORE
    bytes are ever read (Parquet column pruning skips the blob column
    entirely for metadata-only queries);
  * per-batch Python cost is amortized by Arrow (one pandas DataFrame
    per batch, not one call per row);
  * decode output is a fixed-length ``array<float>`` feature column —
    downstream joins/ANN reuse the similarity operators.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in feature extractor: sha256-seeded floats.

    Replace with a real decoder (PIL → pixels → model) when the media
    libraries are available; the Spark-side contract does not change.
    """
    digest = hashlib.sha256(payload or b"").digest()
    return [digest[i] / 255.0 for i in range(dim)]


def extract_media_features(
    media: DataFrame,
    decode_stub: str = "fake",
    feature_dim: int = FEATURE_DIM,
    batch_hint: int | None = None,
) -> DataFrame:
    """(media_id, kind, feature array<float>) via mapInPandas.

    ``batch_hint`` repartitions beforehand when the caller knows payload
    sizes (target ~64-128 MB of blob per task at scale so a batch fits
    executor memory).
    """
    if decode_stub not in ("fake", "raise"):
        raise ValueError("decode_stub must be 'fake' or 'raise'")

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub == "raise":
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg; use decode_stub='fake'"
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": [
                        _fake_decode(p, feature_dim) for p in pdf["payload"]
                    ],
                }
            )

    src = media.repartition(batch_hint) if batch_hint else media
    return src.select("media_id", "kind", "payload").mapInPandas(
        decode_batches, schema=out_schema
    )


def encode_wav_pcm16(samples, sample_rate: int = 16000) -> bytes:
    """Minimal RIFF/WAVE writer: mono PCM16 little-endian, stdlib only.

    The inverse of ``decode_wav`` — used by tests and fixture builders to
    synthesize real audio payloads without any media library.
    """
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    n_channels, bits = 1, 16
    byte_rate = sample_rate * n_channels * bits // 8
    block_align = n_channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, n_channels, sample_rate, byte_rate, block_align, bits
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(payload: bytes) -> dict:
    """REAL WAV decode, no media libraries: walk the RIFF chunk list, read
    the ``fmt `` header, pull PCM16 samples from ``data``.

    Returns {sample_rate, n_channels, bits, n_samples, mean_amp, rms_amp}.
    Raises ValueError on malformed containers and on encodings beyond
    mono/stereo PCM16 (where PIL/ffmpeg-class decoders would take over).
    """
    import struct

    import numpy as np

    if payload is None or len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt_chunk, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_chunk = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt_chunk is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt_chunk
    if audio_format != 1 or bits != 16 or n_channels not in (1, 2):
        raise ValueError(f"unsupported encoding: format={audio_format} bits={bits}")
    pcm = np.frombuffer(data, dtype="<i2").astype("float64")
    n_samples = len(pcm) // n_channels
    return {
        "sample_rate": sample_rate,
        "n_channels": n_channels,
        "bits": bits,
        "n_samples": n_samples,
        "mean_amp": float(pcm.mean()) if len(pcm) else 0.0,
        "rms_amp": float(np.sqrt((pcm * pcm).mean())) if len(pcm) else 0.0,
    }


_L, _D = T.LongType(), T.DoubleType()
#: The raster codecs' common fields: size and mean channel values.
_RGB = [
    ("width", _L),
    ("height", _L),
    ("mean_r", _D),
    ("mean_g", _D),
    ("mean_b", _D),
]


def decoded_features(
    media: DataFrame,
    decode: Callable[[bytes], dict],
    fields: list[tuple[str, T.DataType]],
    id_col: str,
    payload_col: str,
) -> DataFrame:
    """(id, *fields) with ``decode`` run over every payload inside the
    Arrow batch loop: one pandas DataFrame per batch, and each named field
    copied out of the dict the decoder returns."""
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType())]
        + [T.StructField(name, dtype) for name, dtype in fields]
    )

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(p) for p in pdf[payload_col]]
            cols = {name: [f[name] for f in feats] for name, _ in fields}
            yield pd.DataFrame({id_col: pdf[id_col], **cols})

    return media.select(id_col, payload_col).mapInPandas(
        decode_batches, schema=out_schema
    )


def wav_features(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, sample_rate, n_samples, mean_amp, rms_amp) via the REAL WAV
    decoder inside the Arrow batch loop — the de-stubbed decode path.

    Same shape as ``extract_media_features`` but value-checkable: the
    features are exact functions of the PCM samples, so any SQL engine
    that can reproduce the samples can oracle-check the decode.
    """
    fields = [("sample_rate", _L), ("n_samples", _L), ("mean_amp", _D), ("rms_amp", _D)]
    return decoded_features(media, decode_wav, fields, id_col, payload_col)


def encode_ppm_p6(pixels, width: int, height: int) -> bytes:
    """Minimal binary PPM (P6) writer: RGB, 8 bits/channel, stdlib only."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8).reshape(height, width, 3)
    return b"P6\n%d %d\n255\n" % (width, height) + arr.tobytes()


def _parse_pnm_header(payload: bytes, magic: bytes, kind: str) -> tuple[int, int, int]:
    """Parse a binary-PNM ASCII header (magic, width, height, maxval;
    '#' comments run to newline). Returns (width, height, raster_pos)."""
    if payload is None or not payload.startswith(magic):
        raise ValueError(f"not a binary {kind} payload")
    pos, tokens = len(magic), []
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
    if len(tokens) < 3:
        raise ValueError(f"truncated {kind} header")
    width, height, maxval = tokens
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    return width, height, pos + 1  # single whitespace byte after maxval


def decode_ppm(payload: bytes) -> dict:
    """REAL PPM (P6) image decode, no media libraries: parse the ASCII
    header (magic, dimensions, maxval, comment lines), then the packed
    RGB8 raster.

    Returns {width, height, mean_r, mean_g, mean_b} — the feature set a
    PIL-class decoder would feed a model head with. Raises ValueError on
    non-P6 payloads (where the stubbed decode path takes over).
    """
    import numpy as np

    width, height, pos = _parse_pnm_header(payload, b"P6", "PPM (P6)")
    raster = payload[pos : pos + width * height * 3]
    if len(raster) != width * height * 3:
        raise ValueError("truncated PPM raster")
    rgb = np.frombuffer(raster, dtype=np.uint8).reshape(-1, 3).astype("float64")
    return {
        "width": width,
        "height": height,
        "mean_r": float(rgb[:, 0].mean()),
        "mean_g": float(rgb[:, 1].mean()),
        "mean_b": float(rgb[:, 2].mean()),
    }


def encode_pgm_p5(pixels, width: int, height: int) -> bytes:
    """Minimal binary PGM (P5) writer: 8-bit grayscale, stdlib only."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8).reshape(height, width)
    return b"P5\n%d %d\n255\n" % (width, height) + arr.tobytes()


def decode_pgm_raster(payload: bytes):
    """REAL PGM (P5) decode returning the raw raster: (width, height,
    uint8 ndarray of length width*height). Shared by the stats decode
    below and the perceptual-hash path (plans/multimodal.py::
    mm_image_dedup), which needs pixels, not aggregates."""
    import numpy as np

    width, height, pos = _parse_pnm_header(payload, b"P5", "PGM (P5)")
    raster = payload[pos : pos + width * height]
    if len(raster) != width * height:
        raise ValueError("truncated PGM raster")
    return width, height, np.frombuffer(raster, dtype=np.uint8)


def decode_pgm(payload: bytes) -> dict:
    """REAL PGM (P5) grayscale decode — the single-channel sibling of
    ``decode_ppm`` (same ASCII header grammar, 1 byte/pixel raster).

    Returns {width, height, mean_gray, max_gray}. Raises ValueError on
    non-P5 payloads (stubbed decode path takes over)."""
    import numpy as np

    width, height, pos = _parse_pnm_header(payload, b"P5", "PGM (P5)")
    raster = payload[pos : pos + width * height]
    if len(raster) != width * height:
        raise ValueError("truncated PGM raster")
    gray = np.frombuffer(raster, dtype=np.uint8).astype("float64")
    return {
        "width": width,
        "height": height,
        "mean_gray": float(gray.mean()),
        "max_gray": float(gray.max()),
    }


def ppm_features(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, width, height, mean_r/g/b) via the REAL PPM decoder inside the
    Arrow batch loop — the image twin of ``wav_features``."""
    return decoded_features(media, decode_ppm, _RGB, id_col, payload_col)


def pgm_features(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, width, height, mean_gray, max_gray) via the REAL PGM decoder
    inside the Arrow batch loop — grayscale twin of ``ppm_features``."""
    fields = [("width", _L), ("height", _L), ("mean_gray", _D), ("max_gray", _D)]
    return decoded_features(media, decode_pgm, fields, id_col, payload_col)


def encode_bmp_24(pixels, width: int, height: int) -> bytes:
    """Minimal 24-bit BMP writer (BITMAPINFOHEADER), stdlib only.

    ``pixels`` is the LOGICAL raster: top-down rows, RGB channel order,
    ``height*width*3`` values. The writer performs the two transforms the
    on-disk format demands — rows stored bottom-up, channels stored BGR,
    each row zero-padded to a 4-byte boundary — so a decoder that skips
    either transform produces measurably wrong features.
    """
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8).reshape(height, width, 3)
    bgr = arr[::-1, :, ::-1]  # bottom-up rows, BGR channels
    row_bytes = width * 3
    pad = (-row_bytes) % 4
    body = b"".join(bgr[r].tobytes() + b"\x00" * pad for r in range(height))
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(body), 0, 0, offset)
    return header + info + body


def decode_bmp(payload: bytes) -> dict:
    """REAL 24-bit BMP decode, no media libraries: parse BITMAPFILEHEADER +
    BITMAPINFOHEADER, strip per-row padding, undo bottom-up row order and
    BGR channel order.

    Returns {width, height, mean_r, mean_g, mean_b, top_row_mean} where
    ``top_row_mean`` averages all channels of the LOGICAL first row — it
    differs from the stored first row whenever height > 1, so it catches
    decoders that forget BMPs are bottom-up. Raises ValueError on
    non-BMP / compressed / non-24bpp payloads (where a PIL-class decoder
    would take over). Negative biHeight (top-down BMPs) is handled.
    """
    import struct

    import numpy as np

    if payload is None or len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    hdr_size, width, raw_height = struct.unpack_from("<Iii", payload, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"unsupported encoding: planes={planes} bpp={bpp} compression={compression}"
        )
    if width <= 0 or raw_height == 0:
        # zero/negative dims pass every byte-length check (0 == 0) and
        # would surface as IndexError/NaN downstream instead of the
        # documented error class
        raise ValueError(f"degenerate BMP dimensions {width}x{raw_height}")
    height = abs(raw_height)
    top_down = raw_height < 0
    row_bytes = width * 3
    stride = row_bytes + ((-row_bytes) % 4)
    body = payload[offset : offset + stride * height]
    if len(body) != stride * height:
        raise ValueError("truncated BMP raster")
    rows = np.frombuffer(body, dtype=np.uint8).reshape(height, stride)[:, :row_bytes]
    bgr = rows.reshape(height, width, 3)
    logical = (bgr if top_down else bgr[::-1])[:, :, ::-1].astype("float64")
    return {
        "width": width,
        "height": height,
        "mean_r": float(logical[:, :, 0].mean()),
        "mean_g": float(logical[:, :, 1].mean()),
        "mean_b": float(logical[:, :, 2].mean()),
        "top_row_mean": float(logical[0].mean()),
    }


def bmp_features(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, width, height, mean_r/g/b, top_row_mean) via the REAL BMP
    decoder inside the Arrow batch loop — second image codec next to PPM,
    exercising padding/bottom-up/BGR parsing the PPM path has no analog
    for."""
    return decoded_features(
        media, decode_bmp, _RGB + [("top_row_mean", _D)], id_col, payload_col
    )


def payload_stats(
    df: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, n_bytes, payload_md5) via Arrow-batched ``mapInPandas``.

    The checkable core of the multimodal path: byte-level stats computed
    in Python over binary payloads, one pandas DataFrame per Arrow batch
    (never per-row). Unlike the decode stub this is value-checkable
    against any SQL engine (md5/length of the same bytes), so it puts the
    F7/F8 pandas-UDF machinery under the oracle gate.
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("payload_md5", T.StringType()),
        ]
    )

    def stat_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload -> NULL stats (SQL NULL propagation; the old
            # b"" coalesce reported (0, md5-of-empty) for a MISSING blob,
            # indistinguishable from a real empty one — r14 fuzz triage).
            # pandas nullable Int64 keeps the Arrow column a long.
            payloads = list(pdf[payload_col])
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": pd.array(
                        [len(p) if p is not None else None for p in payloads],
                        dtype="Int64",
                    ),
                    "payload_md5": [
                        hashlib.md5(p).hexdigest() if p is not None else None
                        for p in payloads
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(stat_batches, schema=out_schema)


def media_metadata_stats(media: DataFrame, include_payload_size: bool = False) -> DataFrame:
    """Metadata aggregation. With the default ``include_payload_size=False``
    the plan never references the payload column, so the Parquet scan
    prunes the blob bytes entirely (verify: ReadSchema in .explain omits
    ``payload``). Opting in to payload_mb necessarily reads every blob."""
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg("width").alias("avg_width"),
        F.avg("height").alias("avg_height"),
        F.avg("duration_ms").alias("avg_duration_ms"),
    ]
    if include_payload_size:
        aggs.append(
            (F.sum(F.length("payload").cast("long")) / (1024 * 1024)).alias("payload_mb")
        )
    return media.groupBy("kind", "format").agg(*aggs)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video → (media_id, frame_ts_ms) explosion WITHOUT decoding: the
    frame plan comes from metadata, so the expensive decode fans out over
    an already-partitioned (media_id, frame) grid."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


def decode_ppm_pixels(payload: bytes):
    """REAL P6 decode to the raw (height, width, 3) uint8 array — the
    pixel-level sibling of ``decode_ppm`` for transforms (resize, crop)
    that need the raster, not just summary features."""
    import numpy as np

    width, height, pos = _parse_pnm_header(payload, b"P6", "PPM (P6)")
    raster = payload[pos : pos + width * height * 3]
    if len(raster) != width * height * 3:
        raise ValueError("truncated PPM raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(height, width, 3)


def resize_nearest(pixels, out_w: int, out_h: int):
    """Nearest-neighbor resize of an (h, w, c) array: pure integer index
    math — dst (x, y) samples src ((x*w)//out_w, (y*h)//out_h) — so the
    result is bit-deterministic and closed-form reproducible (the
    property the oracle-backed resize query relies on). The real
    resize step of an image-pipeline; no media libraries."""
    import numpy as np

    if out_w <= 0 or out_h <= 0:
        raise ValueError("output dimensions must be positive")
    h, w = pixels.shape[0], pixels.shape[1]
    xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
    ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
    return pixels[np.ix_(ys, xs)]


def ppm_resize_features(
    media: DataFrame,
    scale_den: int = 2,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode P6 -> nearest-neighbor downscale by ``scale_den`` (floor,
    min 1 px) -> per-channel means of the RESIZED raster, in one Arrow
    batch pass (decode and transform share the batch loop — the payload
    is never re-shipped between stages)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("out_w", T.LongType()),
            T.StructField("out_h", T.LongType()),
            T.StructField("mean_r", T.DoubleType()),
            T.StructField("mean_g", T.DoubleType()),
            T.StructField("mean_b", T.DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: dict[str, list] = {
            id_col: [], "out_w": [], "out_h": [],
            "mean_r": [], "mean_g": [], "mean_b": [],
        }
        for pdf in it:
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                px = decode_ppm_pixels(payload)
                h, w = px.shape[0], px.shape[1]
                ow, oh = max(w // scale_den, 1), max(h // scale_den, 1)
                small = resize_nearest(px, ow, oh).astype("float64")
                rows[id_col].append(mid)
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
                rows["mean_r"].append(float(small[:, :, 0].mean()))
                rows["mean_g"].append(float(small[:, :, 1].mean()))
                rows["mean_b"].append(float(small[:, :, 2].mean()))
        yield pd.DataFrame(rows)

    return media.select(id_col, payload_col).mapInPandas(batches, schema=out_schema)


def encode_rawvideo_pv1(frames, n_frames: int, width: int, height: int) -> bytes:
    """Minimal raw-video container ('PV1', grayscale 8-bit): ASCII header
    then n_frames packed w*h rasters. Stands in for mp4/mkv (no ffmpeg in
    the container) with REAL container plumbing — header grammar, frame
    addressing, truncation checks — so the frame-sampling operator is
    exercised end to end."""
    import numpy as np

    arr = np.asarray(frames, dtype=np.uint8).reshape(n_frames, height, width)
    return b"PV1\n%d %d %d\n" % (n_frames, width, height) + arr.tobytes()


def decode_rawvideo_header(payload: bytes) -> tuple[int, int, int, int]:
    """(n_frames, width, height, raster_pos); ValueError on non-PV1."""
    if not payload:
        raise ValueError("null/empty payload")
    if not payload.startswith(b"PV1\n"):
        raise ValueError("not a PV1 raw video")
    nl = payload.index(b"\n", 4)
    parts = payload[4:nl].split()
    if len(parts) != 3:
        raise ValueError("malformed PV1 header")
    n, w, h = (int(x) for x in parts)
    if n <= 0 or w <= 0 or h <= 0:
        raise ValueError("degenerate PV1 dimensions")
    return n, w, h, nl + 1


def frame_sample_features(
    media: DataFrame,
    stride: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling (the video op of the multimodal pipeline): decode
    the PV1 container, keep every ``stride``-th frame (0, s, 2s, ...),
    emit ONE ROW PER SAMPLED FRAME with its mean intensity — a
    variable-fan-out mapInPandas (frame rows per media depend on the
    payload), the shape a real video pipeline needs before any per-frame
    model runs. Frames that are not sampled are never materialized as
    arrays — the raster is sliced by offset."""
    import numpy as np

    if stride <= 0:
        raise ValueError("stride must be positive")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.LongType()),
            T.StructField("mean_gray", T.DoubleType()),
        ]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, fidx, means = [], [], []
        for pdf in it:
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                n, w, h, pos = decode_rawvideo_header(bytes(payload))
                fsize = w * h
                if len(payload) - pos != n * fsize:
                    raise ValueError("truncated PV1 raster")
                for k in range(0, n, stride):
                    frame = np.frombuffer(
                        payload, dtype=np.uint8, count=fsize, offset=pos + k * fsize
                    ).astype("float64")
                    ids.append(mid)
                    fidx.append(k)
                    means.append(float(frame.mean()))
        yield pd.DataFrame({id_col: ids, "frame_idx": fidx, "mean_gray": means})

    return media.select(id_col, payload_col).mapInPandas(batches, schema=out_schema)


# --- PNG (stdlib zlib — a REAL compressed raster codec) -----------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_rgb8(pixels, width: int, height: int) -> bytes:
    """Minimal 8-bit-RGB PNG writer, stdlib only (zlib ships with
    CPython, so unlike JPEG the FULL container is expressible without
    media libraries).

    Deliberately adversarial toward lazy decoders: the per-row filter
    type CYCLES through all five PNG filters (None/Sub/Up/Average/
    Paeth), so a reader that ignores filter bytes or mis-implements any
    reconstruction rule produces measurably wrong pixels — the same
    make-the-transform-load-bearing principle as the BMP writer's
    bottom-up BGR storage. IDAT is split into two chunks to force
    multi-chunk reassembly.
    """
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8).reshape(height, width, 3)
    bpp = 3
    raw = bytearray()
    prev = np.zeros(width * bpp, dtype=np.int32)
    for r in range(height):
        row = arr[r].reshape(-1).astype(np.int32)
        ftype = r % 5
        if ftype == 0:
            filt = row.copy()
        elif ftype == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            filt = (row - left) % 256
        elif ftype == 2:  # Up
            filt = (row - prev) % 256
        elif ftype == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            filt = (row - (left + prev) // 2) % 256
        else:  # Paeth
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            filt = (row - pred) % 256
        raw.append(ftype)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    z = zlib.compress(bytes(raw), 6)
    mid = len(z) // 2
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", z[:mid])
        + _png_chunk(b"IDAT", z[mid:])
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict:
    """REAL PNG decode, stdlib only: signature + chunk walk (length/
    CRC-verified), multi-IDAT zlib inflate, and full reconstruction of
    all five row filters (None/Sub/Up/Average/Paeth) per the PNG spec's
    defilter recurrences. Supports 8-bit truecolor (type 2) and 8-bit
    grayscale (type 0), non-interlaced — the raster family this engine
    synthesizes; palette/16-bit/interlaced raise ValueError (a PIL-class
    decoder's territory).

    Returns {width, height, mean_r, mean_g, mean_b, top_row_mean}
    (grayscale reports its mean on all three channels) — the same
    feature contract as decode_bmp so the two codecs share oracles.
    """
    import struct
    import zlib

    import numpy as np

    if payload is None or len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, ended = 8, None, [], False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            ended = True
            break
        pos += 12 + length
    if ihdr is None or not idat or not ended:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    width, height, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or color not in (0, 2) or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"unsupported PNG encoding: depth={depth} color={color} interlace={interlace}"
        )
    if width == 0 or height == 0:
        raise ValueError(f"degenerate PNG dimensions {width}x{height}")
    bpp = 3 if color == 2 else 1
    stride = width * bpp
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG raster size mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        row = np.frombuffer(
            raw, np.uint8, stride, r * (stride + 1) + 1
        ).astype(np.int32)
        if ftype == 0:
            rec = row
        elif ftype == 2:  # Up — no left dependency, vectorized
            rec = (row + prev) % 256
        elif ftype in (1, 3, 4):
            rec = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                left = rec[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    rec[i] = (row[i] + left) % 256
                elif ftype == 3:
                    rec[i] = (row[i] + (left + prev[i]) // 2) % 256
                else:
                    up = prev[i]
                    upleft = prev[i - bpp] if i >= bpp else 0
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    if pa <= pb and pa <= pc:
                        pred = left
                    elif pb <= pc:
                        pred = up
                    else:
                        pred = upleft
                    rec[i] = (row[i] + pred) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[r] = rec.astype(np.uint8)
        prev = rec
    logical = out.reshape(height, width, bpp).astype("float64")
    if bpp == 1:
        logical = np.repeat(logical, 3, axis=2)
    return {
        "width": int(width),
        "height": int(height),
        "mean_r": float(logical[:, :, 0].mean()),
        "mean_g": float(logical[:, :, 1].mean()),
        "mean_b": float(logical[:, :, 2].mean()),
        "top_row_mean": float(logical[0].mean()),
    }


def png_features(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, width, height, mean_r/g/b, top_row_mean) via the REAL PNG
    decoder inside the Arrow batch loop — the COMPRESSED raster codec
    next to BMP/PPM/PGM: chunk CRCs, multi-IDAT inflate, and the five
    filter reconstructions are all exercised per row."""
    return decoded_features(
        media, decode_png, _RGB + [("top_row_mean", _D)], id_col, payload_col
    )


def wav_frame_features(
    media: DataFrame,
    frame_len: int = 25,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame-level audio features with VARIABLE fan-out: one output row
    per ``frame_len``-sample frame of the decoded PCM — the audio twin
    of video frame sampling (``frame_sample_features``), and the batch
    shape every audio-training pipeline needs (VAD, energy gating,
    per-frame labels).

    Per frame: sample count (the tail frame may be partial), RMS
    energy, and the ZERO-CROSSING count (adjacent-sample strict sign
    flips, s[i]·s[i+1] < 0 — an integer, so exactly checkable across
    engines; RMS over integer-valued PCM is sum-exact below 2^53 and
    the division + sqrt are correctly rounded IEEE ops, so it is
    engine-stable too).

    Decode runs REAL (``decode_wav`` walks the RIFF container) inside
    the Arrow batch loop; the fan-out happens in the same pass, so the
    payload is decoded once and never shuffled — only the (id, frame,
    features) rows move.
    """
    import numpy as np
    import struct as _struct

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_id", T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("rms_amp", T.DoubleType()),
            T.StructField("zero_cross", T.LongType()),
        ]
    )

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fids, ns, rms, zc = [], [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                meta = decode_wav(payload)
                if meta["n_channels"] != 1:
                    raise ValueError("frame features expect mono PCM")
                # re-extract the PCM (decode_wav returns aggregates):
                # payload layout already validated by decode_wav.
                pos = 12
                data = None
                while pos + 8 <= len(payload):
                    cid = payload[pos : pos + 4]
                    (size,) = _struct.unpack("<I", payload[pos + 4 : pos + 8])
                    if cid == b"data":
                        data = payload[pos + 8 : pos + 8 + size]
                    pos += 8 + size + (size & 1)
                pcm = np.frombuffer(data, dtype="<i2").astype("int64")
                n = meta["n_samples"]
                for f0 in range(0, n, frame_len):
                    fr = pcm[f0 : f0 + frame_len]
                    prod = fr[:-1] * fr[1:]
                    ids.append(mid)
                    fids.append(f0 // frame_len)
                    ns.append(len(fr))
                    rms.append(float(np.sqrt((fr.astype("float64") ** 2).mean())))
                    zc.append(int((prod < 0).sum()))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "frame_id": pd.Series(fids, dtype="int64"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "rms_amp": pd.Series(rms, dtype="float64"),
                    "zero_cross": pd.Series(zc, dtype="int64"),
                }
            )

    return media.select(id_col, payload_col).mapInPandas(frames, schema=out_schema)


# --- GIF (real LZW — the second compressed raster codec) ----------------------


def _gif_lzw_compress(indices, mcs: int) -> bytes:
    """GIF-flavor LZW: variable-width codes (mcs+1 .. 12 bits), LSB-first
    bit packing, CLEAR emitted up front and again if the table fills.
    Width grows when the encoder's next free code reaches 2^width + 1 —
    the exact mirror of the decoder's 2^width rule (the decoder's table
    lags one entry because its first post-clear code adds none)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    table: dict[tuple, int] = {(i,): i for i in range(clear)}
    next_code, width = eoi + 1, mcs + 1

    out = bytearray()
    acc = n_bits = 0

    def emit(code: int, w: int):
        nonlocal acc, n_bits
        acc |= code << n_bits
        n_bits += w
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8

    emit(clear, width)
    w_seq: tuple = ()
    for k in indices:
        k = int(k)
        wk = w_seq + (k,)
        if wk in table:
            w_seq = wk
            continue
        emit(table[w_seq], width)
        if next_code < 4095:
            table[wk] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code, width = eoi + 1, mcs + 1
        w_seq = (k,)
    if w_seq:
        emit(table[w_seq], width)
    emit(eoi, width)
    if n_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, mcs: int) -> list[int]:
    """GIF LZW decode per the spec: LSB-first variable-width codes,
    CLEAR resets the table, KwKwK case (code == next free) handled,
    width grows when the table reaches 2^width."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    pos = acc = n_bits = 0
    width = mcs + 1
    table: list[list[int]] = [[i] for i in range(eoi + 1)]
    out: list[int] = []
    prev: list[int] | None = None

    while True:
        while n_bits < width:
            if pos >= len(data):
                raise ValueError("GIF LZW stream ended without EOI")
            acc |= data[pos] << n_bits
            n_bits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        n_bits -= width
        if code == clear:
            table = [[i] for i in range(eoi + 1)]
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW first code out of range")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # KwKwK
            entry = prev + [prev[0]]
        else:
            raise ValueError("GIF LZW code out of range")
        out.extend(entry)
        if prev is not None and len(table) < 4095:
            table.append(prev + [entry[0]])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def _gif_palette(n: int = 16) -> list[tuple[int, int, int]]:
    """Deterministic 16-color palette, closed-form per index (the oracle
    recomputes channel sums from these formulas)."""
    return [((i * 17) % 256, (i * 29) % 256, (i * 43) % 256) for i in range(n)]


def encode_gif87a(indices, width: int, height: int) -> bytes:
    """Minimal GIF87a writer, stdlib only: logical screen descriptor,
    16-entry global color table, one image, REAL LZW-compressed data in
    ≤255-byte sub-blocks."""
    import struct

    idx = [int(i) for i in indices]
    if len(idx) != width * height:
        raise ValueError("index raster does not match dimensions")
    if any(i < 0 or i > 15 for i in idx):
        raise ValueError("palette index out of range")
    mcs = 4  # 16-color table
    out = bytearray(b"GIF87a")
    # LSD: global color table flag, color resolution 3 (→ bits 0b1110),
    # table size 2^(3+1)=16
    out += struct.pack("<HHBBB", width, height, 0x80 | 0x70 | 0x03, 0, 0)
    for r, g, b in _gif_palette(16):
        out += bytes((r, g, b))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out.append(mcs)
    comp = _gif_lzw_compress(idx, mcs)
    for i in range(0, len(comp), 255):
        block = comp[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


def decode_gif(payload: bytes) -> dict:
    """REAL GIF decode, stdlib only: header + logical screen descriptor,
    global color table, image descriptor, sub-block reassembly, and a
    full variable-width LZW decode (clear/EOI codes, KwKwK case, 12-bit
    cap). Supports GIF87a/89a single-image, global-palette,
    non-interlaced rasters — extensions (0x21 blocks) are skipped;
    local palettes and interlace raise ValueError (PIL-class
    territory).

    Returns {width, height, mean_r, mean_g, mean_b, idx_sum} — the BMP/
    PNG feature contract plus the palette-index checksum.
    """
    import struct

    if payload is None or len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width, height, packed, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not packed & 0x80:
        raise ValueError("GIF without a global color table")
    gct_n = 2 << (packed & 0x07)
    if len(payload) < 13 + 3 * gct_n:
        raise ValueError("GIF truncated inside the global color table")
    palette = [tuple(payload[pos + 3 * i : pos + 3 * i + 3]) for i in range(gct_n)]
    pos += 3 * gct_n
    found_image = False
    while pos < len(payload):
        block = payload[pos]
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:
            found_image = True
            break
        elif block == 0x3B:
            raise ValueError("GIF trailer before any image")
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    if not found_image or pos + 11 > len(payload):
        raise ValueError("GIF truncated before the image descriptor")
    _l, _t, iw, ih, ipacked = struct.unpack_from("<HHHHB", payload, pos + 1)
    pos += 10
    if ipacked & 0x80:
        raise ValueError("local color tables unsupported")
    if ipacked & 0x40:
        raise ValueError("interlaced GIF unsupported")
    mcs = payload[pos]
    pos += 1
    data = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("GIF truncated inside image data sub-blocks")
        n = payload[pos]
        pos += 1
        if n == 0:
            break
        if pos + n > len(payload):
            raise ValueError("GIF truncated inside image data sub-blocks")
        data += payload[pos : pos + n]
        pos += n
    idx = _gif_lzw_decompress(bytes(data), mcs)
    if len(idx) != iw * ih:
        raise ValueError(f"GIF raster size mismatch: {len(idx)} != {iw}x{ih}")
    if any(i >= gct_n for i in idx):
        raise ValueError("GIF palette index out of range")
    n_px = iw * ih
    sum_r = sum(palette[i][0] for i in idx)
    sum_g = sum(palette[i][1] for i in idx)
    sum_b = sum(palette[i][2] for i in idx)
    return {
        "width": iw,
        "height": ih,
        "mean_r": sum_r / n_px,
        "mean_g": sum_g / n_px,
        "mean_b": sum_b / n_px,
        "idx_sum": sum(idx),
    }


def gif_features(
    media: DataFrame, id_col: str = "media_id", payload_col: str = "payload"
) -> DataFrame:
    """(id, width, height, mean_r/g/b, idx_sum) via the REAL GIF decoder
    (variable-width LZW) inside the Arrow batch loop."""
    return decoded_features(
        media, decode_gif, _RGB + [("idx_sum", _L)], id_col, payload_col
    )
