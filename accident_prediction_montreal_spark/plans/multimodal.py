"""Multimodal family (SURVEY.md §2.14) as queries: payload statistics, WAV,
PPM, PGM, BMP, PNG and GIF decoding, image resize, frame and audio-frame
sampling, and perceptual image dedup, each over synthetic payloads encoded
deterministically from the documents table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accident_prediction_montreal_spark.plans.registry import register
from accident_prediction_montreal_spark.sources.registry import load_table


def _synthetic_media(spark: SparkSession, sf_dir: str, encode) -> DataFrame:
    """(media_id, payload) with one synthetic payload per document:
    ``encode(doc_id)`` returns its bytes, run inside the Arrow batch loop
    so payloads are built on the executors. ``encode`` is a closure, so it
    is shipped by value and the workers need not import this module."""
    import pandas as pd
    from pyspark.sql import types as T

    enc_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def encode_batches(batches):
        for pdf in batches:
            payloads = [encode(d) for d in pdf["doc_id"]]
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return docs.mapInPandas(encode_batches, schema=enc_schema)


def _wav_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit PCM WAV payloads, 100-149 closed-form samples per document
    (the input of mm_wav_decode and mm_audio_frames)."""
    import numpy as np

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_wav_pcm16,
    )

    def encode(d):
        n = 100 + d % 50
        i = np.arange(n, dtype=np.int64)
        s = (d * 7919 + i * 104729) % 65536 - 32768
        return encode_wav_pcm16(s)

    return _synthetic_media(spark, sf_dir, encode)


def _ppm_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary PPM (P6) payloads with a closed-form RGB8 raster per
    document (the input of mm_ppm_decode and mm_ppm_resize)."""
    import numpy as np

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_ppm_p6,
    )

    def encode(d):
        w, h = 8 + d % 8, 6 + d % 6
        p = np.arange(w * h * 3, dtype=np.int64)
        return encode_ppm_p6((d * 13 + p * 17) % 256, w, h)

    return _synthetic_media(spark, sf_dir, encode)


@register(
    "mm_payload_stats",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes, md5(text) AS payload_md5
    FROM documents
    """,
    description="Arrow-batched pandas-UDF path under the oracle gate (F7/F8, "
    "multimodal north star): text bytes as an opaque binary payload -> "
    "mapInPandas computes per-payload byte length + md5 in Python, one "
    "pandas DataFrame per Arrow batch -- value-identical to the SQL "
    "engine's md5/strlen over the same bytes.",
)
def mm_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.multimodal import payload_stats

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return payload_stats(docs, id_col="doc_id", payload_col="payload")


@register(
    "mm_wav_decode",
    oracle="""
    WITH samp AS (
      SELECT doc_id, unnest(range(0, 100 + doc_id % 50)) AS i FROM documents
    ), v AS (
      SELECT doc_id,
        CAST((doc_id * 7919 + i * 104729) % 65536 - 32768 AS DOUBLE) AS s
      FROM samp
    )
    SELECT doc_id AS media_id, CAST(16000 AS BIGINT) AS sample_rate,
      COUNT(*) AS n_samples,
      ROUND(AVG(s), 6) + 0.0 AS mean_amp,
      ROUND(sqrt(AVG(s * s)), 6) + 0.0 AS rms_amp
    FROM v GROUP BY doc_id
    """,
    description="REAL (de-stubbed) media decode under the value-oracle gate: "
    "per document, synthesize a mono PCM16 WAV payload whose samples are a "
    "closed-form function of doc_id (Arrow-batched encode), then DECODE the "
    "binary container for real — operators/multimodal.py::decode_wav walks "
    "RIFF chunks, parses the fmt header, extracts PCM16 — and emit "
    "sample_rate/n_samples/mean/RMS. The oracle recomputes the same stats "
    "from the closed form, so a decoder that misparses the header, drops "
    "samples, or mis-signs PCM hash-mismatches. Samples are integer-valued, "
    "so double sums are EXACT in both engines. Image/video formats stay "
    "stubbed (no PIL/ffmpeg in the container); the WAV path proves the "
    "payload->decode->features plumbing end to end.",
)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.multimodal import (
        wav_features,
    )

    out = wav_features(_wav_media(spark, sf_dir))
    return out.select(
        "media_id",
        "sample_rate",
        "n_samples",
        (F.round("mean_amp", 6) + 0.0).alias("mean_amp"),
        (F.round("rms_amp", 6) + 0.0).alias("rms_amp"),
    )


@register(
    "mm_ppm_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, p % 3 AS chan,
        CAST((doc_id * 13 + p * 17) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b
    FROM v GROUP BY doc_id
    """,
    description="REAL image decode twin of mm_wav_decode: per document, "
    "synthesize a binary PPM (P6) whose RGB8 raster is a closed-form "
    "function of doc_id, then DECODE it for real — "
    "operators/multimodal.py::decode_ppm parses the ASCII header "
    "(dimensions, maxval, comments) and the packed raster — emitting "
    "width/height/per-channel means, value-checked against the closed "
    "form. Pixel values are integers, so double means are exact in both "
    "engines.",
)
def mm_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.multimodal import (
        ppm_features,
    )

    out = ppm_features(_ppm_media(spark, sf_dir))
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
    )


@register(
    "mm_pgm_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 9 AS w, 5 + doc_id % 7 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h,
        CAST((doc_id * 7 + p * 13) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val), 6) + 0.0 AS mean_gray,
      MAX(val) AS max_gray
    FROM v GROUP BY doc_id
    """,
    description="REAL grayscale decode (r5 verdict #7, shrinking the "
    "stubbed image surface further): per document, synthesize a binary "
    "PGM (P5) whose 8-bit raster is a closed-form function of doc_id, "
    "then DECODE it for real — operators/multimodal.py::decode_pgm "
    "parses the shared PNM ASCII header grammar and the 1-byte/pixel "
    "raster — emitting width/height/mean/max, value-checked against the "
    "closed form. Integer pixel values keep the double mean exact in "
    "both engines.",
)
def mm_pgm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_pgm_p5,
        pgm_features,
    )

    def encode(d):
        w, h = 8 + d % 9, 5 + d % 7
        p = np.arange(w * h, dtype=np.int64)
        return encode_pgm_p5((d * 7 + p * 13) % 256, w, h)

    out = pgm_features(_synthetic_media(spark, sf_dir, encode))
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_gray", 6) + 0.0).alias("mean_gray"),
        "max_gray",
    )


@register(
    "mm_bmp_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 5 + doc_id % 7 AS w, 4 + doc_id % 5 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, p % 3 AS chan, p < w * 3 AS top_row,
        CAST((doc_id * 11 + p * 29) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b,
      ROUND(AVG(val) FILTER (top_row), 6) + 0.0 AS top_row_mean
    FROM v GROUP BY doc_id
    """,
    description="Second REAL image codec (r4 verdict #7): per document, "
    "synthesize a 24-bit BMP whose LOGICAL top-down RGB raster is a "
    "closed-form function of doc_id, then DECODE the container for real — "
    "operators/multimodal.py::decode_bmp parses BITMAPFILEHEADER + "
    "BITMAPINFOHEADER, strips 4-byte row padding, undoes bottom-up row "
    "order and BGR channel order. The oracle recomputes channel means "
    "from the closed form (catches BGR/RGB swaps) and the LOGICAL first "
    "row's mean (catches decoders that forget bottom-up storage). Widths "
    "5..11 sweep every padding residue 0-3. Integer pixel values keep "
    "double means exact in both engines.",
)
def mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from accident_prediction_montreal_spark.operators.multimodal import (
        bmp_features,
        encode_bmp_24,
    )

    def encode(d):
        w, h = 5 + d % 7, 4 + d % 5
        p = np.arange(w * h * 3, dtype=np.int64)
        return encode_bmp_24((d * 11 + p * 29) % 256, w, h)

    out = bmp_features(_synthetic_media(spark, sf_dir, encode))
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
        (F.round("top_row_mean", 6) + 0.0).alias("top_row_mean"),
    )


@register(
    "mm_ppm_resize",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
    ), odims AS (
      SELECT doc_id, w, h,
        GREATEST(w // 2, 1) AS ow, GREATEST(h // 2, 1) AS oh
      FROM dims
    ), opx AS (
      SELECT doc_id, w, h, ow, oh, unnest(range(0, ow * oh * 3)) AS q
      FROM odims
    ), v AS (
      SELECT doc_id, ow, oh, q % 3 AS chan,
        CAST((doc_id * 13 +
          ((((q // 3) // ow) * h // oh) * w + (((q // 3) % ow) * w // ow))
            * 3 * 17 + (q % 3) * 17) % 256 AS DOUBLE) AS val
      FROM opx
    )
    SELECT doc_id AS media_id,
      CAST(MAX(ow) AS BIGINT) AS out_w, CAST(MAX(oh) AS BIGINT) AS out_h,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b
    FROM v GROUP BY doc_id
    """,
    description="REAL image RESIZE (the transform step of the multimodal "
    "pipeline, de-stubbed): per document, the synthetic P6 raster is "
    "DECODED (real header+raster parse) and nearest-neighbor downscaled "
    "2x by pure integer index math — dst (x,y) samples src "
    "((x*w)//ow, (y*h)//oh) — inside ONE Arrow batch pass, then the "
    "resized per-channel means are value-checked against the oracle's "
    "closed-form replay of the SAME index map. A wrong sampling formula, "
    "row/column swap, or channel leak changes a mean and hash-mismatches.",
)
def mm_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.multimodal import (
        ppm_resize_features,
    )

    out = ppm_resize_features(_ppm_media(spark, sf_dir), scale_den=2)
    return out.select(
        "media_id",
        "out_w",
        "out_h",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 9 AS nf, 6 + doc_id % 5 AS w,
             4 + doc_id % 4 AS h
      FROM documents
    ), frames AS (
      SELECT doc_id, w, h, unnest(range(0, nf, 3)) AS k FROM dims
    ), px AS (
      SELECT doc_id, k, w, h, unnest(range(0, w * h)) AS p FROM frames
    )
    SELECT doc_id AS media_id, CAST(k AS BIGINT) AS frame_idx,
      ROUND(AVG(CAST((doc_id * 7 + k * w * h * 11 + p * 11) % 256 AS DOUBLE)), 6)
        + 0.0 AS mean_gray
    FROM px GROUP BY doc_id, k
    """,
    description="REAL video FRAME SAMPLING (the last stubbed multimodal "
    "op, de-stubbed via a minimal PV1 raw-video container standing in "
    "for mp4 — no ffmpeg in the sandbox, but the container plumbing is "
    "real: header grammar, frame addressing, truncation checks): every "
    "3rd frame of each synthetic grayscale video is sliced from the "
    "raster BY OFFSET (unsampled frames never materialize), one output "
    "row per sampled frame (variable fan-out mapInPandas), per-frame "
    "mean intensity value-checked against the closed-form raster "
    "formula. Off-by-one frame addressing or a wrong stride changes "
    "rows or means and hash-mismatches.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_rawvideo_pv1,
        frame_sample_features,
    )

    def encode(d):
        nf, w, h = 4 + d % 9, 6 + d % 5, 4 + d % 4
        p = np.arange(nf * w * h, dtype=np.int64)
        # frame k pixel p: (d*7 + k*w*h*11 + p_in_frame*11) % 256
        # == (d*7 + global_p*11) % 256 with global_p = k*w*h + p
        return encode_rawvideo_pv1((d * 7 + p * 11) % 256, nf, w, h)

    out = frame_sample_features(_synthetic_media(spark, sf_dir, encode), stride=3)
    return out.select(
        "media_id",
        "frame_idx",
        (F.round("mean_gray", 6) + 0.0).alias("mean_gray"),
    )


@register(
    "mm_png_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 6 AS w, 5 + doc_id % 4 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h * 3)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, p % 3 AS chan, p < w * 3 AS top_row,
        CAST((doc_id * 13 + p * 17) % 256 AS DOUBLE) AS val
      FROM px
    )
    SELECT doc_id AS media_id,
      CAST(MAX(w) AS BIGINT) AS width, CAST(MAX(h) AS BIGINT) AS height,
      ROUND(AVG(val) FILTER (chan = 0), 6) + 0.0 AS mean_r,
      ROUND(AVG(val) FILTER (chan = 1), 6) + 0.0 AS mean_g,
      ROUND(AVG(val) FILTER (chan = 2), 6) + 0.0 AS mean_b,
      ROUND(AVG(val) FILTER (top_row), 6) + 0.0 AS top_row_mean
    FROM v GROUP BY doc_id
    """,
    description="REAL COMPRESSED raster codec (r6 verdict #8, closing the "
    "raster family): per document, synthesize an 8-bit-RGB PNG whose "
    "raster is a closed-form function of doc_id — the writer cycles all "
    "five PNG row filters (None/Sub/Up/Average/Paeth) and splits IDAT in "
    "two — then DECODE for real: operators/multimodal.py::decode_png "
    "walks CRC-verified chunks, inflates multi-chunk IDAT with stdlib "
    "zlib, and reconstructs every filter per the spec recurrences. "
    "Heights 5..8 guarantee each image exercises all five filters; the "
    "oracle recomputes channel means and the first-row mean from the "
    "closed form, so any filter/CRC/reassembly fault shifts a mean and "
    "hash-mismatches. JPEG (DCT) stays stubbed — zlib is stdlib, libjpeg "
    "is not.",
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_png_rgb8,
        png_features,
    )

    def encode(d):
        w, h = 4 + d % 6, 5 + d % 4
        p = np.arange(w * h * 3, dtype=np.int64)
        return encode_png_rgb8((d * 13 + p * 17) % 256, w, h)

    media = _synthetic_media(spark, sf_dir, encode)
    return png_features(media).select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
        (F.round("top_row_mean", 6) + 0.0).alias("top_row_mean"),
    )


@register(
    "mm_audio_frames",
    oracle="""
    WITH samp AS (
      SELECT doc_id, unnest(range(0, 100 + doc_id % 50)) AS i FROM documents
    ), v AS (
      SELECT doc_id, i, i // 25 AS frame_id,
        CAST((doc_id * 7919 + i * 104729) % 65536 - 32768 AS DOUBLE) AS s
      FROM samp
    ), z AS (
      SELECT doc_id, frame_id, s,
        LAG(s) OVER (PARTITION BY doc_id, frame_id ORDER BY i) AS sp
      FROM v
    )
    SELECT doc_id AS media_id, frame_id, COUNT(*) AS n_samples,
      ROUND(sqrt(AVG(s * s)), 6) + 0.0 AS rms_amp,
      CAST(SUM(CASE WHEN s * sp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
    FROM z GROUP BY doc_id, frame_id
    """,
    description="Frame-level AUDIO feature extraction with variable fan-out "
    "(operators/multimodal.py::wav_frame_features — the audio twin of "
    "video frame sampling, completing the multimodal north star's "
    "feature-extract family): per document a mono PCM16 WAV payload is "
    "synthesized from the closed form, the RIFF container is decoded for "
    "REAL in the Arrow batch loop, and each 25-sample frame emits one "
    "row of (count, RMS energy, zero-crossing count). The payload is "
    "decoded ONCE and never shuffled — only (id, frame, features) rows "
    "leave the map pass. Zero crossings are strict sign flips (exact "
    "integers); RMS over integer PCM is sum-exact with correctly-rounded "
    "division/sqrt, so both features are engine-stable. Oracle replays "
    "frames from the closed form with a LAG window.",
)
def mm_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.multimodal import (
        wav_frame_features,
    )

    out = wav_frame_features(_wav_media(spark, sf_dir), frame_len=25)
    return out.select(
        "media_id",
        "frame_id",
        "n_samples",
        (F.round("rms_amp", 6) + 0.0).alias("rms_amp"),
        "zero_cross",
    )


@register(
    "mm_gif_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 8 + doc_id % 8 AS w, 6 + doc_id % 6 AS h FROM documents
    ), px AS (
      SELECT doc_id, w, h, unnest(range(0, w * h)) AS p FROM dims
    ), v AS (
      SELECT doc_id, w, h, (doc_id * 31 + p * 7) % 16 AS i FROM px
    )
    SELECT doc_id AS media_id, CAST(w AS BIGINT) AS width,
      CAST(h AS BIGINT) AS height,
      ROUND(AVG((i * 17) % 256), 6) + 0.0 AS mean_r,
      ROUND(AVG((i * 29) % 256), 6) + 0.0 AS mean_g,
      ROUND(AVG((i * 43) % 256), 6) + 0.0 AS mean_b,
      CAST(SUM(i) AS BIGINT) AS idx_sum
    FROM v GROUP BY doc_id, w, h
    """,
    description="REAL GIF decode under the value-oracle gate — the second "
    "COMPRESSED raster codec next to PNG (operators/multimodal.py::"
    "decode_gif): per document a 16-color GIF87a payload is synthesized "
    "from the closed-form index raster and LZW-COMPRESSED for real "
    "(variable-width codes growing 5..12 bits, clear/EOI, sub-block "
    "framing), then decoded for real — header + logical screen "
    "descriptor, global color table, sub-block reassembly, full LZW "
    "with the KwKwK case — and reduced to palette-resolved channel "
    "means + the index checksum. A decoder that mis-widths a code, "
    "drops a clear, or misorders the table corrupts every downstream "
    "pixel and hash-mismatches. Encoder/decoder width rules are "
    "deliberately asymmetric (2^w+1 vs 2^w — the decoder's table lags "
    "one entry), property-tested round-trip across the growth "
    "boundaries in tests/test_multimodal_kml.py.",
)
def mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from accident_prediction_montreal_spark.operators.multimodal import (
        encode_gif87a,
        gif_features,
    )

    def encode(d):
        w, h = 8 + d % 8, 6 + d % 6
        idx = [(d * 31 + p * 7) % 16 for p in range(w * h)]
        return encode_gif87a(idx, w, h)

    out = gif_features(_synthetic_media(spark, sf_dir, encode))
    return out.select(
        "media_id",
        "width",
        "height",
        (F.round("mean_r", 6) + 0.0).alias("mean_r"),
        (F.round("mean_g", 6) + 0.0).alias("mean_g"),
        (F.round("mean_b", 6) + 0.0).alias("mean_b"),
        "idx_sum",
    )


@register(
    "mm_image_dedup",
    oracle="""
    WITH fams AS (
      SELECT doc_id, doc_id % 251 AS fam FROM documents
    ),
    dims AS (
      SELECT doc_id, fam, 8 + fam % 9 AS w, 5 + fam % 7 AS h FROM fams
    ),
    samp AS (
      SELECT doc_id, fam, w, h, s,
        CAST((fam * 7 + (((s // 8) * h // 8) * w + ((s % 8) * w // 8)) * 13)
             % 256 AS DOUBLE) AS val
      FROM dims, range(0, 64) r(s)
    ),
    means AS (SELECT doc_id, AVG(val) AS m FROM samp GROUP BY doc_id),
    hashed AS (
      SELECT s.doc_id,
        string_agg(CASE WHEN s.val > m.m THEN '1' ELSE '0' END, ''
                   ORDER BY s.s) AS ahash
      FROM samp s JOIN means m USING (doc_id)
      GROUP BY s.doc_id
    ),
    px AS (
      SELECT doc_id, CAST(SUM((fam * 7 + p * 13) % 256) AS BIGINT)
        AS raster_sum
      FROM (SELECT doc_id, fam, unnest(range(0, w * h)) AS p FROM dims)
      GROUP BY doc_id
    ),
    per AS (
      SELECT h.doc_id AS media_id, h.ahash, px.raster_sum
      FROM hashed h JOIN px ON px.doc_id = h.doc_id
    )
    SELECT media_id, ahash, raster_sum,
      CAST(COUNT(*) OVER (PARTITION BY ahash, raster_sum) AS BIGINT)
        AS n_members,
      CAST(MIN(media_id) OVER (PARTITION BY ahash, raster_sum) AS BIGINT)
        AS canonical_id
    FROM per ORDER BY media_id
    """,
    description="PERCEPTUAL IMAGE DEDUP (the multimodal member of the dedup "
    "family, §2.14): every document synthesizes a REAL binary PGM whose "
    "raster repeats per doc_id % 251 family (planted visual duplicates "
    "across different ids), the REAL decoder parses it back "
    "(operators/multimodal.py::decode_pgm), and a 64-bit AVERAGE HASH "
    "(aHash: nearest-neighbor 8x8 downsample, threshold at the sample "
    "mean, emitted as a 64-char bit string — no signed-overflow "
    "ambiguity) buckets the corpus; an exact raster checksum verifies "
    "each bucket so a perceptual collision can never merge distinct "
    "images. Scale: hashing is one Arrow-batched map pass; grouping is "
    "an equi-aggregation on (ahash, checksum) — the visual analogue of "
    "dedup_exact's digest groupBy, with the same no-all-pairs "
    "guarantee. Oracle replays the closed-form raster, the integer "
    "downsample arithmetic and the exact mean threshold (integer "
    "samples / 64 is exact in binary) term-for-term.",
)
def mm_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from accident_prediction_montreal_spark.operators.multimodal import (
        decode_pgm_raster,
        encode_pgm_p5,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id")

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("ahash", T.StringType()),
            T.StructField("raster_sum", T.LongType()),
        ]
    )

    def hash_batches(batches):
        for pdf in batches:
            ids, hashes, sums = [], [], []
            for d in pdf["doc_id"]:
                fam = int(d) % 251
                w, h = 8 + fam % 9, 5 + fam % 7
                p = np.arange(w * h, dtype=np.int64)
                payload = encode_pgm_p5((fam * 7 + p * 13) % 256, w, h)
                # REAL decode back to the raster, then aHash it.
                width, height, gray = decode_pgm_raster(payload)
                g = gray.reshape(height, width)
                ys = (np.arange(8) * height) // 8
                xs = (np.arange(8) * width) // 8
                samples = g[np.ix_(ys, xs)].astype(np.float64).ravel()
                bits = samples > samples.mean()
                ids.append(int(d))
                hashes.append("".join("1" if b else "0" for b in bits))
                sums.append(int(gray.astype(np.int64).sum()))
            yield pd.DataFrame(
                {"media_id": ids, "ahash": hashes, "raster_sum": sums}
            )

    from pyspark.sql import Window

    per = docs.mapInPandas(hash_batches, schema=out_schema)
    grp = Window.partitionBy("ahash", "raster_sum")
    return per.select(
        "media_id",
        "ahash",
        "raster_sum",
        F.count(F.lit(1)).over(grp).cast("long").alias("n_members"),
        F.min("media_id").over(grp).cast("long").alias("canonical_id"),
    ).orderBy("media_id")
