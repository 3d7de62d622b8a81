"""Multimodal operators over binary payload columns.

- :func:`with_payload` — typed binary column + metadata, pure Catalyst.
- :func:`binary_stats` — byte length + digest, pure Catalyst
  (whole-stage codegen over the scan; no Python).
- :func:`decode_features` — Arrow-batched ``mapInPandas`` decode stage:
  the canonical shape for image/audio feature extraction at scale. Each
  Python worker receives columnar Arrow batches; the decode kernel runs
  per-row inside the batch; output is a new columnar batch. No shuffle —
  a pure map stage that scales linearly with partitions.
- :func:`frame_sample` — fixed-stride frame sampling over a bytestream,
  pure Catalyst (substring/ceil arithmetic on binary).

At 100 TB the decode stage is the cost center; keeping it in
``mapInPandas`` (not a row-at-a-time UDF) gives Arrow transfer + NumPy
vectorization, and keeping stats/sampling in Catalyst keeps everything
else JVM-side.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("mean_px", DoubleType()),
    ]
)

FRAME_BYTES = 64
FRAME_STRIDE = 4


def payload_col(text_col: Column | str) -> Column:
    """Opaque binary payload (UTF-8 bytes of the text column — the test
    tables carry no real media, so text bytes stand in for image bytes)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.encode(c, "UTF-8")


def with_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("payload", payload_col(text_col))


def binary_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Byte length + md5 digest of each payload. Pure Catalyst."""
    return df.select(
        id_col,
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("digest"),
    )


def decode_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched decode: (id, payload) -> FEATURE_SCHEMA rows via
    mapInPandas with the deterministic fake kernel (codecs.py)."""
    from aristoteles_spark.multimodal.codecs import fake_decode_meta

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = [fake_decode_meta(bytes(p)) for p in pdf["payload"]]
            out = pd.DataFrame(rows, columns=["width", "height", "channels", "mean_px"])
            out.insert(0, "doc_id", pdf[id_col].values)
            yield out

    return df.select(id_col, "payload").mapInPandas(decode_batches, FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("resized_digest", StringType()),
    ]
)

RESIZE_TARGET = 256


def resize_features(
    df: DataFrame, id_col: str = "doc_id", target: int = RESIZE_TARGET
) -> DataFrame:
    """Arrow-batched resize stage: decode -> aspect-fit into a target box
    -> digest of the (fake) resized payload. Dimension math is pure
    integer arithmetic (out_w = max(1, w*target // max(w,h))) so the SQL
    oracle reproduces it exactly; the real kernel would call
    PIL.Image.thumbnail in the same mapInPandas seam with the same
    schema and batching."""
    import hashlib

    from aristoteles_spark.multimodal.codecs import fake_decode_meta

    def resize_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, p in zip(pdf[id_col], pdf["payload"]):
                payload = bytes(p)
                w, h, _, _ = fake_decode_meta(payload)
                m = max(w, h)
                ow = max(1, w * target // m)
                oh = max(1, h * target // m)
                d = hashlib.md5(
                    (hashlib.md5(payload).hexdigest() + f":{ow}x{oh}").encode()
                ).hexdigest()
                rows.append((did, w, h, ow, oh, d))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "width", "height", "out_w", "out_h", "resized_digest"],
            )

    return df.select(id_col, "payload").mapInPandas(resize_batches, RESIZE_SCHEMA)


def real_codec_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL image-codec decode stage (no fake kernel, no Pillow).

    Each row's md5 digest becomes a 4x4 grayscale image, PNG-encoded
    with row filter ``doc_id % 5`` (so every one of the five PNG filter
    types is exercised), then decoded back through the pure-Python PNG
    decoder (``formats/imaging.py``: zlib inflate + per-filter
    reconstruction) and reduced to (width, height, channels, mean_px).
    Because PNG is lossless, mean_px == mean(digest bytes)/255, which
    the SQL oracle states directly — any decoder bug (filter math, CRC,
    stride) breaks the match. Runs in the same Arrow-batched
    mapInPandas seam as the fake kernel; blobs never shuffle."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.imaging import decode_png, encode_png

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                px = np.frombuffer(bytes.fromhex(hexd), dtype=np.uint8)
                img = px.reshape(4, 4)
                payload = encode_png(img, filter_type=int(did) % 5)
                back = decode_png(payload)
                if not np.array_equal(back, img):
                    raise RuntimeError("PNG round trip changed the image")
                rows.append(
                    (did, back.shape[1], back.shape[0], 1,
                     float(back.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_px"]
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, FEATURE_SCHEMA)


REAL_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
        StructField("crop_mean", DoubleType()),
    ]
)


def real_resize_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL resize stage: digest -> 4x4 gray PNG -> decode -> nearest-
    neighbor upscale to 8x8 -> BMP encode/decode round-trip -> mean of
    the top-left 4x4 crop. With NN upscaling out[y,x] = in[y//2,x//2],
    the crop covers in[0:2,0:2] exactly, so crop_mean == mean(digest
    bytes 0,1,4,5)/255 — stated verbatim by the SQL oracle. Exercises
    the PNG decoder, the NN index math, and the BMP codec end-to-end."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.imaging import (
            decode_bmp,
            decode_png,
            encode_bmp,
            encode_png,
            resize_nearest,
        )

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                img = np.frombuffer(
                    bytes.fromhex(hexd), dtype=np.uint8
                ).reshape(4, 4)
                up = resize_nearest(decode_png(encode_png(img)), 8, 8)
                rgb = decode_bmp(encode_bmp(up))
                crop = rgb[:4, :4]
                rows.append(
                    (did, rgb.shape[1], rgb.shape[0],
                     float(crop.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "out_w", "out_h", "crop_mean"]
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, REAL_RESIZE_SCHEMA)


DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("dhash", IntegerType()),
    ]
)


def real_dhash_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL perceptual difference-hash (dHash) stage: digest -> 4x4 gray
    PNG (row filter ``doc_id % 5``) -> pure-Python PNG decode -> 12-bit
    dHash (bit r*3+c set iff px[r,c] > px[r,c+1] — the standard
    brightness-gradient fingerprint image dedup pipelines block on).
    Lossless PNG means each bit is a stated comparison of two digest
    bytes, so the SQL oracle reproduces the hash exactly and the driver
    gate checks the REAL decoder underneath the perceptual kernel.
    Arrow-batched mapInPandas; blobs never leave the scan task — only
    (doc_id, 12-bit int) continues downstream."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.imaging import decode_png, encode_png

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                img = np.frombuffer(
                    bytes.fromhex(hexd), dtype=np.uint8
                ).reshape(4, 4)
                px = decode_png(encode_png(img, filter_type=int(did) % 5))
                bits = px[:, :-1] > px[:, 1:]  # 4 rows x 3 comparisons
                h = 0
                for b in bits.reshape(-1)[::-1]:
                    h = (h << 1) | int(b)
                rows.append((did, h))
            yield pd.DataFrame(rows, columns=["doc_id", "dhash"])

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, DHASH_SCHEMA)


AUDIO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", LongType()),
    ]
)

AUDIO_RATE = 8000
AUDIO_TILE = 4  # 16 digest bytes tiled 4x -> 64 samples


def real_audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL WAV codec feature stage: each row's md5 digest becomes 16
    int16 samples ((byte-128)*256), tiled to 64, PCM16-WAV-encoded and
    decoded back through the pure-Python RIFF parser
    (``formats/audio.py``), then reduced to rate/duration/RMS/peak.
    The synthesis is exact-integer, so the SQL oracle states RMS/peak
    directly from the digest bytes — a decoder bug (chunk walk,
    interleave, sample width) breaks the driver match. Same
    Arrow-batched mapInPandas seam as the image kernels."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.audio import audio_features, encode_wav

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                b = np.frombuffer(bytes.fromhex(hexd), dtype=np.uint8)
                samples = np.tile(
                    (b.astype(np.int32) - 128) * 256, AUDIO_TILE
                ).astype(np.int16)
                rate, n, dur, rms, peak = audio_features(
                    encode_wav(samples, AUDIO_RATE)
                )
                rows.append((did, rate, n, dur, rms, peak))
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "n_samples", "duration_s",
                    "rms", "peak",
                ],
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, AUDIO_SCHEMA)


VIDEO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_sampled", IntegerType()),
        StructField("sampled_mean", DoubleType()),
    ]
)

VIDEO_STRIDE = 2  # keep every 2nd frame


def real_video_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL video-container frame sampling: each row's md5 digest becomes
    four 2x2 luma frames, Y4M-encoded (YUV4MPEG2, formats/video.py) and
    parsed back — header fields, FRAME markers, plane sizes — then
    sampled at stride 2. sampled_mean == mean(digest bytes 0-3,8-11)/255
    by construction (frames 0 and 2), which the SQL oracle states
    directly; a container-parse bug (frame offset, plane size) breaks
    the driver match. Same Arrow-batched mapInPandas seam."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.video import encode_y4m, sample_frames

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                b = np.frombuffer(bytes.fromhex(hexd), dtype=np.uint8)
                frames = b.reshape(4, 2, 2)
                w, h, nf, ns, sampled = sample_frames(
                    encode_y4m(frames), VIDEO_STRIDE
                )
                rows.append(
                    (did, w, h, nf, ns, float(sampled.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height", "n_frames", "n_sampled",
                    "sampled_mean",
                ],
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, VIDEO_SCHEMA)


def frame_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    frame_bytes: int = FRAME_BYTES,
    stride: int = FRAME_STRIDE,
) -> DataFrame:
    """Treat the payload as a stream of fixed-size frames; report frame
    counts and the digest of the first sampled frame. Pure Catalyst
    (ceil/substring on binary) — the real video analogue swaps the
    digest for a decode_features call on each sampled frame."""
    n_bytes = F.length("payload")
    n_frames = F.ceil(n_bytes / F.lit(frame_bytes)).cast("long")
    n_sampled = F.floor((n_frames + stride - 1) / F.lit(stride)).cast("long")
    return df.select(
        id_col,
        n_frames.alias("n_frames"),
        n_sampled.alias("n_sampled"),
        F.md5(F.substring("payload", 1, frame_bytes)).alias("frame0_digest"),
    )


def real_jpeg_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL baseline-JPEG codec stage (formats/jpeg.py, no Pillow).

    Each row's md5 digest defines a 16x16 grayscale image of four solid
    8x8 quadrants with values ``64 + 2*(digest_byte % 64)`` — chosen so
    at quality 50 (Annex K tables unscaled, DC quantizer 16) the DC-only
    blocks survive quantization EXACTLY: 8*(v-128)/16 is an integer, the
    IDCT of a DC-only block is constant, and the decoded image is
    bit-equal to the input. mean_px is therefore SQL-stateable and the
    driver oracle checks the actual entropy coder, marker parser, DPCM,
    dequantize and IDCT — encode uses restart_interval=1, so every RSTn
    boundary (predictor reset + bit realignment) is on the checked path
    too. Runs in the same Arrow-batched mapInPandas seam; blobs never
    shuffle."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.jpeg import decode_jpeg, encode_jpeg

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                b = bytes.fromhex(hexd)
                vals = [64 + 2 * (b[i] % 64) for i in range(4)]
                img = np.zeros((16, 16), dtype=np.uint8)
                img[0:8, 0:8] = vals[0]
                img[0:8, 8:16] = vals[1]
                img[8:16, 0:8] = vals[2]
                img[8:16, 8:16] = vals[3]
                payload = encode_jpeg(img, quality=50, restart_interval=1)
                back = decode_jpeg(payload)
                if not np.array_equal(back, img):  # DC-exact by construction
                    raise RuntimeError("JPEG round trip changed the image")
                rows.append(
                    (did, back.shape[1], back.shape[0], 1,
                     float(back.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_px"]
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, FEATURE_SCHEMA)


def real_progressive_jpeg_features(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """REAL progressive-JPEG (SOF2) codec stage
    (formats/jpeg_progressive.py, no Pillow).

    Same DC-exact construction as ``real_jpeg_features`` but over digest
    bytes 4..7 and encoded PROGRESSIVELY: the multi-scan successive-
    approximation script (DC first at Al=1, per-component AC first, DC
    refine, AC refine) recomposes the quantized coefficients
    bit-for-bit, so the decoded image equals the input exactly and
    mean_px stays SQL-stateable — the driver oracle therefore checks the
    actual progressive scan parser, EOB-run logic and refinement-bit
    protocol. Decode goes through ``decode_jpeg`` to also pin the
    SOF2 dispatch. Same Arrow-batched mapInPandas seam; blobs never
    shuffle."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.jpeg import decode_jpeg
        from aristoteles_spark.formats.jpeg_progressive import (
            encode_jpeg_progressive,
        )

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                b = bytes.fromhex(hexd)
                vals = [64 + 2 * (b[4 + i] % 64) for i in range(4)]
                img = np.zeros((16, 16), dtype=np.uint8)
                img[0:8, 0:8] = vals[0]
                img[0:8, 8:16] = vals[1]
                img[8:16, 0:8] = vals[2]
                img[8:16, 8:16] = vals[3]
                payload = encode_jpeg_progressive(img, quality=50)
                back = decode_jpeg(payload)  # dispatches on SOF2
                if not np.array_equal(back, img):  # DC-exact by construction
                    raise RuntimeError("progressive JPEG round trip changed the image")
                rows.append(
                    (did, back.shape[1], back.shape[0], 1,
                     float(back.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_px"]
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, FEATURE_SCHEMA)


def real_gif_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL GIF codec stage (formats/gif.py): digest -> 4x4 gray image
    -> GIF89a encode (interlaced when doc_id is odd, so the de-weave
    path is driver-checked too) -> LZW decode -> features. GIF is
    lossless, so mean_px == mean(digest bytes)/255 — stated verbatim by
    the SQL oracle, which therefore checks the actual LZW
    compressor/decompressor, sub-block framing and interlace order."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.gif import decode_gif, encode_gif

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                px = np.frombuffer(bytes.fromhex(hexd), dtype=np.uint8)
                img = px.reshape(4, 4)
                payload = encode_gif(img, interlace=bool(int(did) % 2))
                back = decode_gif(payload)
                if not np.array_equal(back, img):
                    raise RuntimeError("GIF round trip changed the image")
                rows.append(
                    (did, back.shape[1], back.shape[0], 1,
                     float(back.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_px"]
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, FEATURE_SCHEMA)


def real_tiff_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL TIFF codec stage (formats/tiff.py): digest -> 4x4 gray image
    -> uncompressed TIFF 6.0 encode (IFD + strip) -> decode -> features.
    Lossless, so mean_px == mean(digest bytes)/255 — the oracle checks
    the IFD tag parser, strip reassembly and layout math for real."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.tiff import decode_tiff, encode_tiff

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                px = np.frombuffer(bytes.fromhex(hexd), dtype=np.uint8)
                img = px.reshape(4, 4)
                back = decode_tiff(encode_tiff(img))
                if not np.array_equal(back, img):
                    raise RuntimeError("TIFF round trip changed the image")
                rows.append(
                    (did, back.shape[1], back.shape[0], 1,
                     float(back.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_px"]
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, FEATURE_SCHEMA)


def real_webp_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """REAL WebP-lossless (VP8L) codec stage (formats/webp.py): digest
    -> 4x4 gray image -> VP8L encode (color-indexed for even doc_ids,
    subtract-green literal for odd ones, so both transform paths are
    driver-checked) -> decode -> features. Lossless, so mean_px ==
    mean(digest bytes)/255 — the oracle therefore checks the real
    prefix-code writer/reader, transform inverses and RIFF framing."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from aristoteles_spark.formats.webp import decode_webp, encode_webp

        for pdf in it:
            rows = []
            for did, hexd in zip(pdf[id_col], pdf["digest"]):
                px = np.frombuffer(bytes.fromhex(hexd), dtype=np.uint8)
                img = px.reshape(4, 4)
                if int(did) % 2 == 0:
                    payload = encode_webp(img, palette=True)
                else:
                    payload = encode_webp(img, subtract_green=True)
                back = decode_webp(payload)
                if back.shape != (4, 4, 3) or not np.array_equal(back[:, :, 0], img):
                    raise RuntimeError("WebP round trip changed the image")
                rows.append(
                    (did, 4, 4, 1, float(img.mean()) / 255.0)
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "width", "height", "channels", "mean_px"]
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.md5("payload").alias("digest")
    ).mapInPandas(batches, FEATURE_SCHEMA)
