"""Multimodal-column queries: binary media decoded END-TO-END through
the driver surface with REAL stdlib codecs — PNG (zlib + unfilter),
baseline JPEG (T.81 Huffman + IDCT), GIF (general LZW), 24-bit BMP,
16-bit PCM WAV, and AVI video (uncompressed-DIB and MJPEG streams,
frame by frame) — each hash-matched against a DuckDB oracle that
predicts the pixels/samples/metadata from doc_id arithmetic. Only
codecs outside the stdlib envelope (progressive JPEG, H.264/VP9
video) remain the documented PIL/ffmpeg seam."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..llm import multimodal as MM
from ..tables import load_table
from . import query


_DECODE_STATS_ORACLE = """
WITH params AS (
  SELECT doc_id,
         CAST(1 + doc_id % 16 AS INT) AS width,
         CAST(1 + doc_id % 8 AS INT) AS height,
         CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS INT)
           AS channels,
         CASE doc_id % 3
           WHEN 0 THEN doc_id % 256
           WHEN 1 THEN (doc_id % 256) + ((doc_id * 2) % 256) + ((doc_id * 3) % 256)
           ELSE (doc_id % 256) + ((doc_id * 2) % 256) + ((doc_id * 3) % 256)
                + ((doc_id * 5) % 256)
         END AS chansum
  FROM documents
)
SELECT doc_id AS id, width, height, channels,
       CAST(width * height * chansum AS BIGINT) AS pixel_sum,
       CAST(width * height * channels AS BIGINT) AS n_vals,
       CAST(width * height * chansum AS DOUBLE)
         / CAST(width * height * channels AS BIGINT) AS mean_pixel
FROM params
"""


@query("multimodal_decode_stats", oracle=_DECODE_STATS_ORACLE, tags=("llm", "multimodal"))
def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode, ORACLED end-to-end: synthesize a spec-valid PNG
    per doc (gray/RGB/RGBA cycling by doc_id % 3, dimensions and channel
    values arithmetic in doc_id, REAL forward filtering cycling all five
    PNG filter types per scanline), decode it with the stdlib zlib +
    unfilter path (decode_png_pixels) inside Arrow batches, and emit
    integer pixel sums + the exact mean. The DuckDB oracle predicts every
    value from doc_id alone — any inflate/unfilter/Paeth bug changes
    pixel_sum and breaks the hash-match."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            w, h = 1 + i % 16, 1 + i % 8
            m = i % 3
            if m == 0:
                px = (i % 256,)
            elif m == 1:
                px = (i % 256, (i * 2) % 256, (i * 3) % 256)
            else:
                px = (i % 256, (i * 2) % 256, (i * 3) % 256, (i * 5) % 256)
            return MM.make_png(w, h, pixel=px, filters=[0, 1, 2, 3, 4])

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.pixel_stats_table(media, "doc_id", "media")


_PROBE_ROUNDTRIP_ORACLE = """
SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
       CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 64 AS INT) END AS width,
       CASE WHEN doc_id % 2 = 0 THEN CAST(1 + doc_id % 32 AS INT) END AS height,
       CASE WHEN doc_id % 2 = 1 THEN CAST(1 + doc_id % 2 AS INT) END AS channels,
       CASE WHEN doc_id % 2 = 1 THEN CAST(8000 * (1 + doc_id % 3) AS INT) END
         AS sample_rate,
       CASE WHEN doc_id % 2 = 1 THEN
         CAST(((1 + doc_id % 10) * 100 * 1000) // (8000 * (1 + doc_id % 3))
              AS BIGINT) END AS duration_ms,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2, 3, 4, 5, 6
"""


@query(
    "multimodal_probe_roundtrip",
    oracle=_PROBE_ROUNDTRIP_ORACLE,
    tags=("llm", "multimodal"),
)
def multimodal_probe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-container round-trip, ORACLED: synthesize a spec-valid PNG
    (even doc_id) or RIFF/WAV (odd) whose parameters are arithmetic in
    doc_id, parse the real headers back with probe_media inside Arrow
    batches, and aggregate. The DuckDB oracle predicts the same metadata
    from doc_id alone — any header-layout or parser bug breaks the match."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        return ids.map(
            lambda i: MM.make_png(1 + i % 64, 1 + i % 32)
            if i % 2 == 0
            else MM.make_wav(
                8000 * (1 + i % 3), 1 + i % 2, (1 + i % 10) * 100
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        synth_udf(F.col("doc_id")).alias("media"),
        F.lit("media/real").alias("media_type"),
    ).select(
        "media",
        "media_type",
        F.length("media").cast("bigint").alias("byte_len"),
        F.sha2("media", 256).alias("checksum"),
    )
    probed = MM.probe_table(media)
    return probed.groupBy(
        "format", "width", "height", "channels", "sample_rate", "duration_ms"
    ).agg(F.count(F.lit(1)).alias("n"))


_FRAME_SAMPLE_ORACLE = """
WITH m AS (
  SELECT sha256(text) AS checksum,
         greatest(octet_length(encode(text)) // 1000, 1) AS nf
  FROM documents
)
SELECT checksum, CAST(SUM((nf - 1) // 10 + 1) AS BIGINT) AS n_frames
FROM m GROUP BY checksum
"""


@query("multimodal_frame_sample", oracle=_FRAME_SAMPLE_ORACLE, tags=("llm", "multimodal"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling plumbing: every 10th 'frame' of each
    media blob as (checksum, frame_idx) rows — ORACLED: the frame count
    per blob is arithmetic in the blob's byte length ((nf-1)//10 + 1 for
    nf = max(bytes/1000, 1)) and the checksum is sha256 of the same
    bytes, both SQL-expressible, so the explode/group plumbing
    hash-matches DuckDB exactly."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.attach_binary(docs, "text", media_type="video/fake")
    frames = MM.frame_sample_plan(media, every_n=10)
    return frames.groupBy("checksum").agg(F.count(F.lit(1)).alias("n_frames"))


_JPEG_DECODE_ORACLE = """
WITH params AS (
  SELECT doc_id,
         CAST(5 + doc_id % 20 AS INT) AS width,
         CAST(3 + doc_id % 10 AS INT) AS height,
         (doc_id * 2) % 256 AS shade
  FROM documents
)
SELECT doc_id AS id, width, height, CAST(1 AS INT) AS channels,
       CAST(width * height * shade AS BIGINT) AS pixel_sum,
       CAST(width * height AS BIGINT) AS n_vals,
       CAST(width * height * shade AS DOUBLE)
         / CAST(width * height AS BIGINT) AS mean_pixel
FROM params
"""


@query("multimodal_jpeg_decode", oracle=_JPEG_DECODE_ORACLE, tags=("llm", "multimodal"))
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, ORACLED end-to-end: synthesize a
    spec-valid JFIF per doc (dimensions and EVEN shade arithmetic in
    doc_id — even shades quantize exactly, see llm/jpeg.py), run the full
    stdlib T.81 pipeline (Huffman entropy decode, dequantize, IDCT)
    inside Arrow batches and emit integer pixel sums. The oracle predicts
    every value from doc_id alone — a Huffman-table, zigzag, or IDCT bug
    changes pixel_sum and breaks the hash-match."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..llm.jpeg import make_jpeg

    def synth(ids):
        return ids.map(
            lambda i: make_jpeg(
                5 + int(i) % 20, 3 + int(i) % 10, shade=(int(i) * 2) % 256
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.pixel_stats_table(media, "doc_id", "media")


_AUDIO_STATS_ORACLE = """
WITH p AS (
  SELECT doc_id,
         CAST(8000 * (1 + doc_id % 3) AS INT) AS rate,
         CAST(1 + doc_id % 2 AS INT) AS ch,
         (doc_id % 100) * 10 AS amp,
         37 * (1 + doc_id % 8) + doc_id % 4 AS nf
  FROM documents
)
SELECT doc_id AS id, rate AS sample_rate, ch AS channels,
       CAST(nf AS BIGINT) AS n_samples,
       CAST(ch * amp * (CASE nf % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                                    WHEN 2 THEN 2 ELSE 1 END) AS BIGINT)
         AS sample_sum,
       CAST(ch * nf * amp AS BIGINT) AS abs_sum,
       CAST(ch * nf * amp * amp AS BIGINT) AS sq_sum
FROM p
"""


@query("multimodal_audio_stats", oracle=_AUDIO_STATS_ORACLE, tags=("llm", "multimodal"))
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM decode, ORACLED end-to-end: synthesize a RIFF/WAVE square
    wave per doc (rate/channels/amplitude/length arithmetic in doc_id),
    decode the int16 samples back (decode_wav_samples) inside Arrow
    batches and emit integer sample sums — signed sum exercises the wave
    phase (partial trailing period), absolute and squared sums the
    amplitude. The oracle predicts all three from doc_id alone."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        return ids.map(
            lambda i: MM.make_wav(
                sample_rate=8000 * (1 + int(i) % 3),
                channels=1 + int(i) % 2,
                n_samples=37 * (1 + int(i) % 8) + int(i) % 4,
                square=((int(i) % 100) * 10, 4),
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.audio_stats_table(media, "doc_id", "media")


_MP4_PROBE_ORACLE = """
SELECT doc_id AS id, 'mp4' AS format,
       CAST(16 * (1 + doc_id % 120) AS INT) AS width,
       CAST(9 * (1 + doc_id % 120) AS INT) AS height,
       CAST((1 + doc_id % 600) * 1000 + doc_id % 7 AS BIGINT) AS duration_ms
FROM documents
"""


@query("multimodal_mp4_probe", oracle=_MP4_PROBE_ORACLE, tags=("llm", "multimodal"))
def multimodal_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) container parsing, ORACLED: synthesize a
    spec-valid ftyp+moov(mvhd+trak(tkhd))+mdat file per doc with
    dimensions / duration arithmetic in doc_id, walk the box tree back
    with probe_media inside Arrow batches. Any box-layout, fixed-point or
    timescale bug breaks the hash-match. (Sample/codec payloads are out
    of stdlib scope — the ffmpeg seam — but container metadata, the part
    a 100 TB video-corpus partitioning strategy needs, is real.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        return ids.map(
            lambda i: MM.make_mp4(
                16 * (1 + int(i) % 120),
                9 * (1 + int(i) % 120),
                (1 + int(i) % 600) * 1000 + int(i) % 7,
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        "doc_id",
        synth_udf(F.col("doc_id")).alias("media"),
        F.lit("video/mp4").alias("media_type"),
    ).select(
        "doc_id",
        "media",
        "media_type",
        F.length("media").cast("bigint").alias("byte_len"),
        F.sha2("media", 256).alias("checksum"),
    )
    probed = MM.probe_table(media.select("media", "media_type", "byte_len", "checksum"))
    # parameters cycle with doc_id, so identical media (same checksum) can
    # recur at larger corpora — keep one probe row per distinct checksum
    joined = media.select("doc_id", "checksum").join(
        probed.dropDuplicates(["checksum"]), "checksum"
    )
    return joined.select(
        F.col("doc_id").alias("id"),
        "format",
        "width",
        "height",
        F.col("duration_ms").cast("bigint").alias("duration_ms"),
    )


_FRAME_TS_ORACLE = """
WITH p AS (
  SELECT doc_id,
         CAST((1 + doc_id % 600) * 1000 + doc_id % 7 AS BIGINT) AS dur
  FROM documents
)
SELECT doc_id AS id, CAST(dur // 1000 + 1 AS BIGINT) AS n_frames,
       CAST((dur // 1000) * 1000 AS BIGINT) AS last_ts
FROM p
"""


@query("multimodal_frame_timestamps", oracle=_FRAME_TS_ORACLE, tags=("llm", "multimodal"))
def multimodal_frame_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling schedule from REAL container metadata: synthesize
    an MP4 per doc, probe its mvhd duration, emit one sample timestamp
    per second (frame_timestamps_plan) and aggregate. The oracle predicts
    frame counts and last timestamps from the same doc_id arithmetic that
    parameterized the containers."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        return ids.map(
            lambda i: MM.make_mp4(
                16 * (1 + int(i) % 120),
                9 * (1 + int(i) % 120),
                (1 + int(i) % 600) * 1000 + int(i) % 7,
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select(
        "doc_id",
        synth_udf(F.col("doc_id")).alias("media"),
        F.lit("video/mp4").alias("media_type"),
    ).select(
        "doc_id", "media", "media_type",
        F.length("media").cast("bigint").alias("byte_len"),
        F.sha2("media", 256).alias("checksum"),
    )
    frames = MM.frame_timestamps_plan(
        media.select("media", "media_type", "byte_len", "checksum"),
        interval_ms=1000,
    )
    # countDistinct: duplicate media (parameter cycles at large corpora)
    # probe to duplicate rows; distinct timestamps give per-blob truth
    per_blob = frames.groupBy("checksum").agg(
        F.countDistinct("ts_ms").alias("n_frames"),
        F.max("ts_ms").alias("last_ts"),
    )
    joined = media.select("doc_id", "checksum").join(per_blob, "checksum")
    return joined.select(
        F.col("doc_id").alias("id"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("last_ts").cast("long").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# REAL nearest-neighbor image resize (multimodal.resize_nearest over the
# stdlib PNG decode): gradient-filled PNGs make every pixel coordinate-
# dependent, so the resized sum pins the exact floor sampling map
# out(x, y) = in((x*w)//out_w, (y*h)//out_h) — any off-by-one breaks the
# hash. The oracle recomputes each sampled ramp value from doc_id alone.
# ---------------------------------------------------------------------------

_RS_W, _RS_H = 5, 3

_RESIZE_ORACLE = f"""
WITH p AS (
  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h,
         doc_id % 256 AS seed
  FROM documents
),
cells AS (
  SELECT doc_id, w, h, seed, x.i AS x, y.i AS y
  FROM p,
       LATERAL (SELECT unnest(range(0, {_RS_W})) AS i) x,
       LATERAL (SELECT unnest(range(0, {_RS_H})) AS i) y
),
s AS (
  SELECT doc_id,
         SUM((seed + 3 * ((x * w) // {_RS_W}) + 7 * ((y * h) // {_RS_H})) % 256)
           AS ps
  FROM cells GROUP BY doc_id
)
SELECT doc_id AS id, CAST({_RS_W} AS INT) AS width, CAST({_RS_H} AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST({_RS_W * _RS_H} AS BIGINT) AS n_vals,
       CAST(ps AS DOUBLE) / {_RS_W * _RS_H} AS mean_pixel
FROM s
"""


@query("multimodal_resize_stats", oracle=_RESIZE_ORACLE, tags=("llm", "multimodal"))
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode gradient PNGs (full zlib + unfilter path, all five filter
    types exercised) and nearest-neighbor resize each to 5x3 with the
    REAL integer resample kernel; integer sums over the resized grid are
    hash-matched against per-coordinate oracle arithmetic."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_png(
                1 + i % 16, 1 + i % 8,
                gradient=(i % 256, 3, 7),
                filters=[0, 1, 2, 3, 4],
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.resize_stats_table(media, "doc_id", "media", _RS_W, _RS_H)


# ---------------------------------------------------------------------------
# REAL PCM resample (multimodal.resample_nearest_audio over the stdlib WAV
# decode): square waves make every frame phase-dependent, so the resampled
# signed sum pins the exact frame mapping src = (j * nf) // n_out; abs_sum
# pins amplitude and output length. The oracle recomputes each sampled
# frame's value from doc_id alone.
# ---------------------------------------------------------------------------

_ARS_N = 50

_AUDIO_RESAMPLE_ORACLE = f"""
WITH p AS (
  SELECT doc_id,
         CAST(8000 * (1 + doc_id % 3) AS INT) AS rate,
         CAST(1 + doc_id % 2 AS INT) AS ch,
         (doc_id % 100) * 10 AS amp,
         37 * (1 + doc_id % 8) + doc_id % 4 AS nf
  FROM documents
),
s AS (
  SELECT p.doc_id,
         SUM(CASE WHEN ((j.i * p.nf) // {_ARS_N}) % 4 < 2
                  THEN p.amp ELSE -p.amp END) AS fs
  FROM p, LATERAL (SELECT unnest(range(0, {_ARS_N})) AS i) j
  GROUP BY p.doc_id
)
SELECT p.doc_id AS id, p.rate AS sample_rate, p.ch AS channels,
       CAST({_ARS_N} AS BIGINT) AS n_frames,
       CAST(p.ch * s.fs AS BIGINT) AS sample_sum,
       CAST(p.ch * {_ARS_N} * p.amp AS BIGINT) AS abs_sum
FROM p JOIN s USING (doc_id)
"""


@query(
    "multimodal_audio_resample", oracle=_AUDIO_RESAMPLE_ORACLE,
    tags=("llm", "multimodal"),
)
def multimodal_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode the square-wave WAVs (REAL 16-bit PCM path) and resample
    each to 50 frames with the exact nearest-index kernel; signed and
    absolute sums are hash-matched against per-frame oracle
    arithmetic."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        return ids.map(
            lambda i: MM.make_wav(
                sample_rate=8000 * (1 + int(i) % 3),
                channels=1 + int(i) % 2,
                n_samples=37 * (1 + int(i) % 8) + int(i) % 4,
                square=((int(i) % 100) * 10, 4),
            )
        )

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.audio_resample_stats_table(media, "doc_id", "media", _ARS_N)


# ---------------------------------------------------------------------------
# Deterministic seeded crop (multimodal.crop_stats_table): the reproducible
# random-crop augmentation — offset = md5-60bit('crop'||id) folded into the
# valid ranges, so the same id crops the same window in any engine. Gradient
# pixels make the sum pin the exact window position.
# ---------------------------------------------------------------------------

_CROP_W, _CROP_H = 4, 2

_CROP_ORACLE = f"""
WITH p AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 2 + doc_id % 7 AS h,
         doc_id % 256 AS seed,
         CAST('0x' || substr(md5('crop' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv
  FROM documents
),
o AS (
  SELECT doc_id, w, h, seed,
         hv % (w - {_CROP_W} + 1) AS x0,
         (hv // 7) % (h - {_CROP_H} + 1) AS y0
  FROM p
),
cells AS (
  SELECT doc_id, seed, x0 + x.i AS x, y0 + y.i AS y
  FROM o,
       LATERAL (SELECT unnest(range(0, {_CROP_W})) AS i) x,
       LATERAL (SELECT unnest(range(0, {_CROP_H})) AS i) y
),
s AS (
  SELECT doc_id, SUM((seed + 3 * x + 7 * y) % 256) AS ps
  FROM cells GROUP BY doc_id
)
SELECT doc_id AS id, CAST({_CROP_W} AS INT) AS width,
       CAST({_CROP_H} AS INT) AS height, CAST(1 AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST({_CROP_W * _CROP_H} AS BIGINT) AS n_vals,
       CAST(ps AS DOUBLE) / {_CROP_W * _CROP_H} AS mean_pixel
FROM s
"""


@query("multimodal_crop_stats", oracle=_CROP_ORACLE, tags=("llm", "multimodal"))
def multimodal_crop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode gradient PNGs and take the deterministic seeded crop
    (4x2, offset from md5('crop'||id)) with the real crop kernel; sums
    hash-matched against per-coordinate oracle arithmetic."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_png(
                4 + i % 13, 2 + i % 7,
                gradient=(i % 256, 3, 7),
                filters=[0, 1, 2, 3, 4],
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.crop_stats_table(media, "doc_id", "media", _CROP_W, _CROP_H)


# ---------------------------------------------------------------------------
# REAL GIF decode (multimodal.decode_gif_pixels — full general LZW with
# dictionary growth and width bumps; the synth encoder emits the spec-valid
# literal+CLEAR scheme): gradient indices through the arithmetic palette
# make every RGB byte a function of (doc_id, x, y) — the oracle recomputes
# all of them.
# ---------------------------------------------------------------------------

_GIF_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 9 AS h,
         doc_id % 256 AS seed
  FROM documents
),
cells AS (
  SELECT doc_id, w, h,
         (seed + 3 * x.i + 7 * y.i) % 256 AS v
  FROM p,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y
),
s AS (
  SELECT doc_id, MIN(w) AS w, MIN(h) AS h,
         SUM(v + (2 * v) % 256 + (3 * v) % 256) AS ps
  FROM cells GROUP BY doc_id
)
SELECT doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(w * h * 3 AS BIGINT) AS n_vals,
       CAST(ps AS DOUBLE) / (w * h * 3) AS mean_pixel
FROM s
"""


@query("multimodal_gif_decode", oracle=_GIF_ORACLE, tags=("llm", "multimodal"))
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW decode, ORACLED end-to-end: synthesize a spec-valid
    GIF87a per doc (256-entry arithmetic palette, gradient indices, LZW
    with CLEAR resets) and decode it with the pure-python general LZW
    path inside Arrow batches; RGB sums hash-match per-coordinate oracle
    arithmetic — any bit-packing/dictionary/palette bug breaks it."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_gif(3 + i % 14, 2 + i % 9, gradient=(i % 256, 3, 7))

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.pixel_stats_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# REAL BMP decode (multimodal.decode_bmp_pixels — 24-bit BI_RGB, bottom-up
# rows with 4-byte padding): same gradient arithmetic as the GIF fixture,
# so the oracle recomputes every RGB byte; the bottom-up row order and the
# BGR->RGB swap are exactly what the sum would expose if mishandled... and
# since a full-image sum is order-invariant, width/height asymmetry in the
# ramp (dx=3 vs dy=7) plus a row-parity weighted sum pin orientation too.
# ---------------------------------------------------------------------------

_BMP_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 9 AS h,
         doc_id % 256 AS seed
  FROM documents
),
cells AS (
  SELECT doc_id, w, h, y.i AS yy,
         (seed + 3 * x.i + 7 * y.i) % 256 AS v
  FROM p,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y
),
s AS (
  SELECT doc_id, MIN(w) AS w, MIN(h) AS h,
         SUM(v + (2 * v) % 256 + (3 * v) % 256) AS ps,
         SUM(CASE WHEN yy % 2 = 0 THEN v ELSE 0 END) AS even_row_r_sum
  FROM cells GROUP BY doc_id
)
SELECT doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(even_row_r_sum AS BIGINT) AS even_row_r_sum,
       CAST(ps AS DOUBLE) / (w * h * 3) AS mean_pixel
FROM s
"""


@query("multimodal_bmp_decode", oracle=_BMP_ORACLE, tags=("llm", "multimodal"))
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 24-bit BMP decode, ORACLED end-to-end: bottom-up BGR rows
    with padding must come back as top-down RGB — the even-row red-channel
    sum breaks if row order or channel order is wrong, the total sum if
    padding leaks into pixels."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..llm.multimodal import decode_bmp_pixels

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_bmp(3 + i % 14, 2 + i % 9, gradient=(i % 256, 3, 7))

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    def stats(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                w, h, c, rgb = decode_bmp_pixels(bytes(row["media"]))
                ps = sum(rgb)
                even = sum(
                    rgb[(y * w + x) * 3]
                    for y in range(0, h, 2)
                    for x in range(w)
                )
                rows.append(
                    {
                        "id": int(row["doc_id"]),
                        "width": w,
                        "height": h,
                        "channels": c,
                        "pixel_sum": ps,
                        "even_row_r_sum": even,
                        "mean_pixel": ps / (w * h * c),
                    }
                )
            yield pd.DataFrame(rows)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return media.mapInPandas(
        stats,
        schema=(
            "id bigint, width int, height int, channels int, "
            "pixel_sum bigint, even_row_r_sum bigint, mean_pixel double"
        ),
    )


# ---------------------------------------------------------------------------
# Perceptual image hash (multimodal.image_dhash_table): the dHash pipeline —
# decode, 9x8 nearest resize, horizontal gradient-sign bits — is exact
# integer arithmetic end to end, so the oracle recomputes both 32-bit
# halves from doc_id alone (LEAD over the grid = the x+1 comparison).
# ---------------------------------------------------------------------------

_DHASH_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 9 AS h,
         doc_id % 256 AS seed
  FROM documents
),
g AS (
  SELECT doc_id, gy.i AS gy, gx.i AS gx,
         4 * ((seed + 3 * ((gx.i * w) // 9) + 7 * ((gy.i * h) // 8)) % 256)
           AS L
  FROM p,
       LATERAL (SELECT unnest(range(0, 9)) AS i) gx,
       LATERAL (SELECT unnest(range(0, 8)) AS i) gy
),
b AS (
  SELECT doc_id, gy, gx,
         CASE WHEN LEAD(L) OVER (PARTITION BY doc_id, gy ORDER BY gx) > L
              THEN 1 ELSE 0 END AS bit
  FROM g
)
SELECT doc_id AS id,
       CAST(SUM(CASE WHEN gy < 4 AND gx < 8
                     THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                     ELSE 0 END) AS BIGINT) AS dhash_hi,
       CAST(SUM(CASE WHEN gy >= 4 AND gx < 8
                     THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                     ELSE 0 END) AS BIGINT) AS dhash_lo
FROM b GROUP BY doc_id
"""


@query("multimodal_image_dhash", oracle=_DHASH_ORACLE, tags=("llm", "multimodal", "dedup"))
def multimodal_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash of every gradient PNG through the REAL decode +
    resize pipeline; both 32-bit halves hash-matched against per-bit
    oracle arithmetic. The 8-byte signature is the image-dedup shuffle
    unit — pixels never cross the wire."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_png(
                3 + i % 14, 2 + i % 9,
                gradient=(i % 256, 3, 7),
                filters=[0, 1, 2, 3, 4],
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.image_dhash_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# REAL video frame decode (multimodal.decode_avi_frames — RIFF/AVI walk +
# uncompressed-DIB frame decode): the time axis (dt=11) makes every frame
# distinct, so a frame-indexing bug (skipped/duplicated/reordered chunks)
# breaks the per-frame sums; the bottom-up row order and BGR swap are pinned
# exactly as in the BMP oracle. The reference schedules video work through
# its generic media pipeline (SURVEY §2.12); here the frame pixels are real.
# ---------------------------------------------------------------------------

_AVI_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h,
         2 + doc_id % 3 AS nf, doc_id % 256 AS seed
  FROM documents
),
cells AS (
  SELECT doc_id, w, h, t.i AS t,
         (seed + 3 * x.i + 7 * y.i + 11 * t.i) % 256 AS v
  FROM p,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y,
       LATERAL (SELECT unnest(range(0, nf)) AS i) t
),
s AS (
  SELECT doc_id, t, MIN(w) AS w, MIN(h) AS h,
         SUM(v + (2 * v) % 256 + (3 * v) % 256) AS ps
  FROM cells GROUP BY doc_id, t
)
SELECT doc_id AS id, CAST(t AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(ps AS DOUBLE) / (w * h * 3) AS mean_pixel
FROM s
"""


@query(
    "multimodal_avi_frames", oracle=_AVI_ORACLE, tags=("llm", "multimodal"),
    bench=True,
)
def multimodal_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video -> pixels, ORACLED end-to-end: synthesize a spec-valid
    frame-carrying AVI per doc ('DIB ' uncompressed stream, gradient
    frames with a time axis) and decode EVERY frame with the pure-stdlib
    RIFF walk + DIB row decode inside Arrow batches; per-frame RGB sums
    hash-match per-coordinate oracle arithmetic. Pixels never leave the
    executor — one row of aggregates per (video, frame) is all that
    shuffles."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_avi(
                3 + i % 6, 2 + i % 5, 2 + i % 3,
                codec="DIB ", gradient=(i % 256, 3, 7, 11),
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    # the documents scan is one small file -> one partition; spread the
    # heavy decode stage across cores (the module docstring's
    # "repartition before heavy decode" guidance — only doc_ids shuffle)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.video_frame_stats_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# Audio perceptual fingerprint (multimodal.audio_fingerprint_table): the
# energy-delta pipeline — PCM decode, 65 equal frames, exact integer frame
# energies, delta-sign bits — recomputed bit-for-bit in DuckDB from the
# sawtooth formula (LEAD over frame energies = the t+1 comparison, exactly
# the dHash oracle pattern in one dimension).
# ---------------------------------------------------------------------------

_AUDIO_FP_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 13 AS step, 128 + 8 * (doc_id % 48) AS md,
         260 + doc_id % 120 AS n
  FROM documents
),
samp AS (
  SELECT doc_id, i.i AS i, n // 65 AS L,
         (i.i * step) % md - md // 2 AS v
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
fr AS (
  SELECT doc_id, i // L AS t, SUM(v * v) AS e
  FROM samp WHERE i < 65 * L GROUP BY doc_id, i // L
),
b AS (
  SELECT doc_id, t,
         CASE WHEN LEAD(e) OVER (PARTITION BY doc_id ORDER BY t) > e
              THEN 1 ELSE 0 END AS bit
  FROM fr
)
SELECT doc_id AS id,
       CAST(SUM(CASE WHEN t < 32 THEN bit * (CAST(1 AS BIGINT) << t)
                     ELSE 0 END) AS BIGINT) AS afp_hi,
       CAST(SUM(CASE WHEN t >= 32 AND t < 64
                     THEN bit * (CAST(1 AS BIGINT) << (t % 32))
                     ELSE 0 END) AS BIGINT) AS afp_lo
FROM b GROUP BY doc_id
"""


@query(
    "multimodal_audio_fingerprint",
    oracle=_AUDIO_FP_ORACLE,
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-delta fingerprint of every sawtooth WAV through the REAL
    PCM decode + framing pipeline; both 32-bit halves hash-matched
    against per-bit oracle arithmetic. The 8-byte signature is the
    audio-dedup shuffle unit — PCM never crosses the wire."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_wav(
                n_samples=260 + i % 120,
                ramp=(3 + i % 13, 128 + 8 * (i % 48)),
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.audio_fingerprint_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# Framed audio DSP features (multimodal.audio_features_table): zero
# crossings, peak amplitude and the loudest frame — all exact integers over
# the same sawtooth, with stereo interleave exercised (channel 0 extraction
# must skip every other sample or zcr/peak shift).
# ---------------------------------------------------------------------------

_AUDIO_FEAT_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 13 AS step, 128 + 8 * (doc_id % 48) AS md,
         260 + doc_id % 120 AS n
  FROM documents
),
samp AS (
  SELECT doc_id, i.i AS i, n, n // 16 AS L,
         (i.i * step) % md - md // 2 AS v,
         LAG((i.i * step) % md - md // 2)
           OVER (PARTITION BY doc_id ORDER BY i.i) AS pv
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
base AS (
  SELECT doc_id, MIN(n) AS n_mono,
         SUM(CASE WHEN pv IS NOT NULL AND (pv < 0) <> (v < 0)
                  THEN 1 ELSE 0 END) AS zcr,
         MAX(ABS(v)) AS peak_abs
  FROM samp GROUP BY doc_id
),
fr AS (
  SELECT doc_id, i // L AS t, SUM(v * v) AS e
  FROM samp WHERE i < 16 * L GROUP BY doc_id, i // L
),
loud AS (
  SELECT doc_id, t, e,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY e DESC, t ASC) AS rn
  FROM fr
)
SELECT b.doc_id AS id, CAST(b.n_mono AS BIGINT) AS n_mono,
       CAST(b.zcr AS BIGINT) AS zcr, CAST(b.peak_abs AS BIGINT) AS peak_abs,
       CAST(l.t AS INT) AS loudest_frame, CAST(l.e AS BIGINT) AS loudest_energy
FROM base b JOIN loud l ON b.doc_id = l.doc_id AND l.rn = 1
"""


@query("multimodal_audio_features", oracle=_AUDIO_FEAT_ORACLE, tags=("llm", "multimodal"))
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed DSP features through the REAL PCM decode: zero-crossing
    count, peak amplitude and argmax-energy frame, each recomputed
    exactly by the oracle from the sawtooth formula. Stereo clips (odd
    doc_id) pin the channel-0 de-interleave."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_wav(
                channels=1 + i % 2,
                n_samples=260 + i % 120,
                ramp=(3 + i % 13, 128 + 8 * (i % 48)),
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.audio_features_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# Video scene-cut detection (multimodal.video_frame_dhash_table +
# video_scene_cuts): per-frame dHash through the REAL AVI decode, then a
# JVM-side LAG + bit_count window keyed on the video id. The fixture flips
# the gradient DIRECTION every 2 frames (dx 3 <-> 253 = -3 mod 256), so
# within-scene Hamming is exactly 0 and every cut flips gradient-sign bits;
# the oracle recomputes each frame's 64 dHash bits and the XOR popcount.
# ---------------------------------------------------------------------------

_SCENE_CUTS_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h,
         4 + doc_id % 3 AS nf, doc_id % 256 AS seed
  FROM documents
),
g AS (
  SELECT doc_id, t.i AS t, gy.i AS gy, gx.i AS gx,
         (seed + (CASE WHEN (t.i // 2) % 2 = 0 THEN 3 ELSE 253 END)
            * ((gx.i * w) // 9) + 7 * ((gy.i * h) // 8)) % 256 AS v
  FROM p,
       LATERAL (SELECT unnest(range(0, nf)) AS i) t,
       LATERAL (SELECT unnest(range(0, 9)) AS i) gx,
       LATERAL (SELECT unnest(range(0, 8)) AS i) gy
),
b AS (
  SELECT doc_id, t, gy, gx,
         CASE WHEN LEAD(v + 2 * ((2 * v) % 256) + (3 * v) % 256)
                     OVER (PARTITION BY doc_id, t, gy ORDER BY gx)
                   > v + 2 * ((2 * v) % 256) + (3 * v) % 256
              THEN 1 ELSE 0 END AS bit
  FROM g
),
hs AS (
  SELECT doc_id, t,
         CAST(SUM(CASE WHEN gy < 4 AND gx < 8
                       THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN gy >= 4 AND gx < 8
                       THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS lo
  FROM b GROUP BY doc_id, t
),
d AS (
  SELECT doc_id, t,
         bit_count(xor(hi, LAG(hi) OVER (PARTITION BY doc_id ORDER BY t)))
         + bit_count(xor(lo, LAG(lo) OVER (PARTITION BY doc_id ORDER BY t)))
           AS hamming
  FROM hs
)
SELECT doc_id AS id, CAST(t AS INT) AS frame_idx,
       CAST(hamming AS BIGINT) AS hamming, hamming > 8 AS is_cut
FROM d WHERE hamming IS NOT NULL
"""


@query(
    "multimodal_video_scene_cuts",
    oracle=_SCENE_CUTS_ORACLE,
    tags=("llm", "multimodal"),
)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene cuts of every synthetic AVI through the REAL decode +
    per-frame dHash + LAG/bit_count window; every Hamming value
    hash-matched against per-bit oracle arithmetic. Frame signatures are
    all that shuffles — one 8-byte pair per frame, keyed on the video
    id."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            n = 4 + i % 3
            grads = [
                (i % 256, 3 if (t // 2) % 2 == 0 else 253, 7) for t in range(n)
            ]
            return MM.make_avi(
                3 + i % 6, 2 + i % 5, n, frame_gradients=grads
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    hashes = MM.video_frame_dhash_table(media, "doc_id", "media")
    return MM.video_scene_cuts(hashes, threshold=8)


# ---------------------------------------------------------------------------
# Banded-Hamming near-pair mining (multimodal.hash64_near_pairs — the ONE
# code path behind image_dhash_pairs and audio_fingerprint_pairs): the
# banding is pigeonhole-COMPLETE for max_hamming < 8, so the engine's
# candidate-join output must equal the oracle's exhaustive cross-join
# popcount filter — a missed band, a bad chunk shift or a duplicate
# candidate all break the match. Fingerprints recomputed per-bit from the
# 50 waveform classes (doc_id % 50), so duplicates span micro-classes.
# ---------------------------------------------------------------------------

_AUDIO_PAIRS_ORACLE = """
WITH k AS (SELECT DISTINCT doc_id % 50 AS key FROM documents),
p AS (
  SELECT key, 3 + key % 13 AS step, 128 + 8 * (key % 29) AS md,
         260 + key AS n
  FROM k
),
samp AS (
  SELECT key, i.i AS i, n // 65 AS L, (i.i * step) % md - md // 2 AS v
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
fr AS (
  SELECT key, i // L AS t, SUM(v * v) AS e
  FROM samp WHERE i < 65 * L GROUP BY key, i // L
),
b AS (
  SELECT key, t,
         CASE WHEN LEAD(e) OVER (PARTITION BY key ORDER BY t) > e
              THEN 1 ELSE 0 END AS bit
  FROM fr
),
f AS (
  SELECT key,
         CAST(SUM(CASE WHEN t < 32 THEN bit * (CAST(1 AS BIGINT) << t)
                       ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN t >= 32 AND t < 64
                       THEN bit * (CAST(1 AS BIGINT) << (t % 32))
                       ELSE 0 END) AS BIGINT) AS lo
  FROM b GROUP BY key
),
d AS (
  SELECT doc_id, f.hi, f.lo
  FROM documents JOIN f ON documents.doc_id % 50 = f.key
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.hi, b.hi))
            + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6
"""


@query(
    "multimodal_audio_near_pairs",
    oracle=_AUDIO_PAIRS_ORACLE,
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_audio_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs through the REAL decode -> fingerprint
    -> banded-Hamming pipeline, hash-matched against the oracle's
    EXHAUSTIVE popcount cross join (completeness: banding must find
    every pair within Hamming 6; soundness: bit_count verify must drop
    everything else)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            key = int(i) % 50
            return MM.make_wav(
                n_samples=260 + key,
                ramp=(3 + key % 13, 128 + 8 * (key % 29)),
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    fps = MM.audio_fingerprint_table(media, "doc_id", "media")
    return MM.audio_fingerprint_near_pairs(fps, max_hamming=6).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# REAL compressed-video decode (MJPEG stream inside AVI): every frame is a
# baseline JPEG decoded by the full T.81 path (llm/jpeg.py). Even constant
# shades reconstruct bit-exactly (predicted_constant_decode — DC quantizes
# exactly, all AC zero), so the oracle predicts every frame's pixel sum in
# closed form; partial MCUs (w, h not multiples of 8) pin the crop.
# ---------------------------------------------------------------------------

_MJPEG_ORACLE = """
WITH p AS (
  SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 7 AS h,
         2 + doc_id % 4 AS nf
  FROM documents
),
f AS (
  SELECT doc_id, w, h, t.i AS t, 2 * ((doc_id + 31 * t.i) % 128) AS shade
  FROM p, LATERAL (SELECT unnest(range(0, nf)) AS i) t
)
SELECT doc_id AS id, CAST(t AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(w * h * 3 * shade AS BIGINT) AS pixel_sum,
       CAST(shade AS DOUBLE) AS mean_pixel
FROM f
"""


@query("multimodal_mjpeg_frames", oracle=_MJPEG_ORACLE, tags=("llm", "multimodal"))
def multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED video -> pixels, ORACLED end-to-end: each AVI carries
    an MJPEG stream (one real baseline JPEG per frame, even constant
    shades), decoded frame-by-frame through the full T.81 entropy decode
    + IDCT inside Arrow batches; the oracle predicts every frame's sums
    in closed form. Partial MCUs exercise the decoder's crop path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            nf = 2 + i % 4
            shades = [2 * ((i + 31 * t) % 128) for t in range(nf)]
            return MM.make_avi(
                5 + i % 9, 4 + i % 7, nf, codec="MJPG", frame_shades=shades
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.video_frame_stats_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# REAL ISO-BMFF (MP4) sample-table decode: frames extracted via the actual
# stsz/stco/stsc walk (multi-chunk layout — the short final chunk gets its
# own stsc run) and decoded by the T.81 path; even shades are closed-form.
# A sample-table bug (wrong chunk offset, run off-by-one, size slip) loses
# or corrupts frames and breaks the per-frame hash.
# ---------------------------------------------------------------------------

_MP4_FRAMES_ORACLE = """
WITH p AS (
  SELECT doc_id, 5 + doc_id % 9 AS w, 4 + doc_id % 7 AS h,
         3 + doc_id % 4 AS nf
  FROM documents
),
f AS (
  SELECT doc_id, w, h, t.i AS t, 2 * ((doc_id + 53 * t.i) % 128) AS shade
  FROM p, LATERAL (SELECT unnest(range(0, nf)) AS i) t
)
SELECT doc_id AS id, CAST(t AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(w * h * 3 * shade AS BIGINT) AS pixel_sum,
       CAST(shade AS DOUBLE) AS mean_pixel
FROM f
"""


@query("multimodal_mp4_frames", oracle=_MP4_FRAMES_ORACLE, tags=("llm", "multimodal"))
def multimodal_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 -> pixels, ORACLED end-to-end: each doc synthesizes a
    frame-carrying ISO-BMFF file (real stsd/stts/stsc/stsz/stco sample
    tables, 2-samples-per-chunk layout so the short final chunk
    exercises stsc run expansion) whose MJPEG samples decode through the
    full T.81 path; the oracle predicts every frame's sums in closed
    form from even constant shades."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            nf = 3 + i % 4
            shades = [2 * ((i + 53 * t) % 128) for t in range(nf)]
            return MM.make_mp4_mjpeg(
                5 + i % 9, 4 + i % 7, shades, samples_per_chunk=2
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.video_frame_stats_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# Sample-accurate frame timestamps (multimodal.mp4_sample_timestamps): the
# stts run-length expansion + prefix sum, against an oracle that recomputes
# the cumulative deltas with a window SUM. Variable per-frame deltas
# (40 + 20*((id + t) % 3)) force single-count runs, so the RLE expansion
# itself is what's under test.
# ---------------------------------------------------------------------------

_MP4_TS_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 5 AS nf FROM documents
),
f AS (
  SELECT doc_id, t.i AS t, 40 + 20 * ((doc_id + t.i) % 3) AS delta
  FROM p, LATERAL (SELECT unnest(range(0, nf)) AS i) t
)
SELECT doc_id AS id, CAST(t AS INT) AS frame_idx,
       CAST(COALESCE(SUM(delta) OVER (
              PARTITION BY doc_id ORDER BY t
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS ts_ms
FROM f
"""


@query("multimodal_mp4_timestamps", oracle=_MP4_TS_ORACLE, tags=("llm", "multimodal"))
def multimodal_mp4_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-accurate frame schedule through the REAL stts walk: each
    doc's MP4 carries variable per-frame durations; the decoded
    timestamps must equal the oracle's windowed prefix sums exactly."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            nf = 3 + i % 5
            deltas = [40 + 20 * ((i + t) % 3) for t in range(nf)]
            return MM.make_mp4_mjpeg(
                4, 4, [128] * nf, frame_deltas=deltas
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.video_sample_timestamps_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# Indexed (palette) PNG decode: color type 3 + PLTE, the one common PNG
# layout the envelope lacked. Same arithmetic palette as the GIF fixture,
# REAL forward row filtering (all five types cycled) on the INDEX plane —
# a filter bug scrambles indices and the palette amplifies it.
# ---------------------------------------------------------------------------

_PNG_INDEXED_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 9 AS h,
         doc_id % 256 AS seed
  FROM documents
),
cells AS (
  SELECT doc_id, w, h,
         (seed + 3 * x.i + 7 * y.i) % 256 AS v
  FROM p,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y
),
s AS (
  SELECT doc_id, MIN(w) AS w, MIN(h) AS h,
         SUM(v + (2 * v) % 256 + (3 * v) % 256) AS ps
  FROM cells GROUP BY doc_id
)
SELECT doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(w * h * 3 AS BIGINT) AS n_vals,
       CAST(ps AS DOUBLE) / (w * h * 3) AS mean_pixel
FROM s
"""


@query("multimodal_png_indexed", oracle=_PNG_INDEXED_ORACLE, tags=("llm", "multimodal"))
def multimodal_png_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL indexed-PNG decode, ORACLED end-to-end: color type 3 with a
    256-entry arithmetic PLTE, gradient indices under real per-row
    forward filtering (all five filter types); the RGB sums hash-match
    per-coordinate oracle arithmetic — an unfilter or palette-mapping
    bug breaks it."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_png(
                3 + i % 14, 2 + i % 9,
                gradient=(i % 256, 3, 7),
                filters=[0, 1, 2, 3, 4],
                indexed=True,
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.pixel_stats_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# 4:2:0 chroma-subsampled JPEG decode: 16x16 MCUs (four Y blocks + Cb + Cr)
# — the layout virtually every camera produces, and the decoder's chroma
# UPSAMPLING path, which 4:4:4 fixtures never touch. Gray triples with even
# shades decode exactly (Cb=Cr=128 survives quantization untouched), so the
# oracle stays closed-form; partial MCUs in both axes pin the edge crop.
# ---------------------------------------------------------------------------

_JPEG420_ORACLE = """
WITH params AS (
  SELECT doc_id,
         CAST(9 + doc_id % 24 AS INT) AS width,
         CAST(5 + doc_id % 14 AS INT) AS height,
         (doc_id * 2) % 256 AS shade
  FROM documents
)
SELECT doc_id AS id, width, height, CAST(3 AS INT) AS channels,
       CAST(width * height * 3 * shade AS BIGINT) AS pixel_sum,
       CAST(width * height * 3 AS BIGINT) AS n_vals,
       CAST(shade AS DOUBLE) AS mean_pixel
FROM params
"""


@query("multimodal_jpeg420_decode", oracle=_JPEG420_ORACLE, tags=("llm", "multimodal"))
def multimodal_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 4:2:0 JPEG decode, ORACLED end-to-end: per-doc 2x2-subsampled
    color JPEGs (gray triples, even shades), decoded through the full
    T.81 path INCLUDING chroma upsampling; the oracle predicts every
    value in closed form. Widths/heights force partial 16x16 MCUs in
    both axes."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            s = (i * 2) % 256
            return MM.make_jpeg420(9 + i % 24, 5 + i % 14, s)

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.pixel_stats_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# Image luma histogram (multimodal.image_luma_histogram_table): the
# flat/low-entropy image signal — exact integer luma bins recomputed
# per-coordinate by the oracle over the same gradient PNGs as the dHash
# fixture.
# ---------------------------------------------------------------------------

_LUMA_HIST_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 9 AS h,
         doc_id % 256 AS seed
  FROM documents
),
cells AS (
  SELECT doc_id,
         (seed + 3 * x.i + 7 * y.i) % 256 AS v
  FROM p,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y
)
SELECT doc_id AS id,
       CAST((v + 2 * ((2 * v) % 256) + (3 * v) % 256) // 64 AS INT) AS bin,
       COUNT(*) AS n
FROM cells GROUP BY 1, 2
"""


@query("multimodal_luma_histogram", oracle=_LUMA_HIST_ORACLE, tags=("llm", "multimodal"))
def multimodal_luma_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact luma histograms through the REAL indexed-PNG decode: every
    (bin, count) recomputed per-coordinate by the oracle. ≤16 rows per
    image shuffle — the curation-signal shape, pixels stay local."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_png(
                3 + i % 14, 2 + i % 9,
                gradient=(i % 256, 3, 7),
                filters=[0, 1, 2, 3, 4],
                indexed=True,
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.image_luma_histogram_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# WebDataset tar-shard ingestion (multimodal.untar_members_table +
# webdataset_samples): real in-memory tar archives per doc, member sizes
# arithmetic in (doc_id, sample, ext) so the oracle predicts the whole
# grouped layout — a header-offset bug, a key-split bug or a lost member
# all break the match.
# ---------------------------------------------------------------------------

_WDS_ORACLE = """
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS n_samples FROM documents
),
s AS (
  SELECT doc_id, k.i AS k,
         10 + (doc_id + 7 * k.i) % 90 AS png_len,
         5 + (doc_id + 13 * k.i) % 40 AS txt_len
  FROM p, LATERAL (SELECT unnest(range(0, n_samples)) AS i) t(i) , LATERAL (SELECT t.i AS i) k
)
SELECT doc_id AS shard_id,
       printf('%06d', k) AS key,
       CAST(2 AS BIGINT) AS n_parts,
       CAST(png_len AS BIGINT) AS bin_len,
       CAST(txt_len AS BIGINT) AS txt_len
FROM s
"""


@query("multimodal_webdataset_shards", oracle=_WDS_ORACLE, tags=("llm", "multimodal"))
def multimodal_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset ingestion ORACLED end-to-end: per doc a real tar shard
    (2-4 samples, each a '.bin' payload + '.txt' caption with
    arithmetic sizes), untarred inside Arrow batches, grouped into
    samples, and the per-sample part sizes hash-matched against the
    oracle's closed-form layout."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            members = []
            for k in range(2 + i % 3):
                png_len = 10 + (i + 7 * k) % 90
                txt_len = 5 + (i + 13 * k) % 40
                members.append((f"{k:06d}.bin", bytes(png_len)))
                members.append((f"{k:06d}.txt", b"x" * txt_len))
            return MM.make_tar_shard(members)

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("shard"))
    members = MM.untar_members_table(shards, "doc_id", "shard")
    samples = MM.webdataset_samples(members)
    return samples.select(
        "shard_id", "key", "n_parts",
        F.element_at("sizes", "bin").alias("bin_len"),
        F.element_at("sizes", "txt").alias("txt_len"),
    )


# ---------------------------------------------------------------------------
# Tar resharding (multimodal.pack_tar_shards): samples regrouped into new
# shards with a SQL-expressible assignment; the oracle predicts each
# shard's sample count AND exact byte length from the POSIX tar layout
# (512-byte header + 512-padded payload per member, 1024 end marker,
# archive padded to 10240-byte records) — any member loss, ordering
# nondeterminism or layout slip changes byte_len.
# ---------------------------------------------------------------------------

_RESHARD_ORACLE = """
WITH p AS (
  SELECT doc_id, 2 + doc_id % 3 AS n_samples FROM documents
),
s AS (
  SELECT doc_id, t.i AS k,
         10 + (doc_id + 7 * t.i) % 90 AS bin_len,
         5 + (doc_id + 13 * t.i) % 40 AS txt_len
  FROM p, LATERAL (SELECT unnest(range(0, n_samples)) AS i) t
),
assigned AS (
  SELECT (doc_id * 10 + k) % 8 AS shard_idx,
         512 + 512 * ((bin_len + 511) // 512)
         + 512 + 512 * ((txt_len + 511) // 512) AS member_bytes
  FROM s
),
agg AS (
  SELECT shard_idx, COUNT(*) AS n_samples, SUM(member_bytes) AS body
  FROM assigned GROUP BY shard_idx
)
SELECT CAST(shard_idx AS INT) AS shard_idx,
       CAST(n_samples AS BIGINT) AS n_samples,
       CAST(((body + 1024 + 10239) // 10240) * 10240 AS BIGINT) AS byte_len
FROM agg
"""


@query("multimodal_reshard_tars", oracle=_RESHARD_ORACLE, tags=("llm", "multimodal"))
def multimodal_reshard_tars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus resharding ORACLED to the BYTE: untar every doc's shard,
    regroup samples into 8 new shards by a SQL-expressible rule, pack
    real tars (sorted members, zeroed metadata) and report each new
    shard's sample count and exact byte length — predicted in closed
    form from the POSIX tar layout."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            members = []
            for k in range(2 + i % 3):
                bin_len = 10 + (i + 7 * k) % 90
                txt_len = 5 + (i + 13 * k) % 40
                members.append((f"{i:06d}{k}.bin", bytes(bin_len)))
                members.append((f"{i:06d}{k}.txt", b"x" * txt_len))
            return MM.make_tar_shard(members)

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("shard"))
    members = MM.untar_members_table(shards, "doc_id", "shard")
    samples = MM.webdataset_samples(members)
    # keys are '{doc:06d}{k}': doc*10+k survives as cast(key as int)
    assigned = samples.withColumn(
        "assign", F.pmod(F.col("key").cast("long"), F.lit(8))
    )
    packed = MM.pack_tar_shards(assigned, shard_col="assign")
    return packed.select("shard_idx", "n_samples", "byte_len")


# ---------------------------------------------------------------------------
# Media metadata strip (multimodal.strip_metadata_table): the image-side
# PII scrub — the oracle predicts exactly how many chunks and bytes the
# strip removes (tEXt framing is 12 overhead + keyword + NUL + text), and
# the audit column pins that every stripped blob still decodes.
# ---------------------------------------------------------------------------

_STRIP_ORACLE = """
WITH p AS (
  SELECT doc_id,
         10 + doc_id % 50 AS author_len,
         3 + doc_id % 20 AS gps_len,
         1 + doc_id % 3 AS n_chunks
  FROM documents
)
SELECT doc_id AS id,
       CAST(n_chunks AS INT) AS n_removed,
       CAST(CASE n_chunks
              WHEN 1 THEN 12 + 6 + 1 + author_len
              WHEN 2 THEN (12 + 6 + 1 + author_len) + (12 + 3 + 1 + gps_len)
              ELSE (12 + 6 + 1 + author_len) + (12 + 3 + 1 + gps_len)
                   + (12 + 4 + 1 + 10)
            END AS BIGINT) AS bytes_removed,
       true AS decodable
FROM p
"""


@query("multimodal_strip_metadata", oracle=_STRIP_ORACLE, tags=("llm", "multimodal"))
def multimodal_strip_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata strip ORACLED end-to-end: PNGs carry 1-3 tEXt chunks of
    arithmetic sizes; the strip must remove exactly those chunks (count
    and byte totals predicted in closed form) and the survivor must
    still decode through the real pipeline."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            chunks = [("Author", "a" * (10 + i % 50))]
            if 1 + i % 3 >= 2:
                chunks.append(("GPS", "g" * (3 + i % 20)))
            if 1 + i % 3 >= 3:
                chunks.append(("Make", "m" * 10))
            return MM.make_png(
                3 + i % 8, 2 + i % 5, gradient=(i % 256, 3, 7),
                text_chunks=chunks,
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    out = MM.strip_metadata_table(media, "doc_id", "media")
    return out.select("id", "n_removed", "bytes_removed", "decodable")


# ---------------------------------------------------------------------------
# Image decontamination (multimodal.image_decontaminate): corpus dHashes
# recomputed per-bit (the dHash oracle CTE) against TWO eval images
# synthesized from the same family; a corpus doc survives iff its signature
# is farther than max_hamming from BOTH — the oracle recomputes the exact
# Hamming distances with xor/bit_count.
# ---------------------------------------------------------------------------

_IMG_DECON_ORACLE = """
WITH corp AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 9 AS h,
         doc_id % 256 AS seed
  FROM documents
),
cg AS (
  SELECT doc_id, gy.i AS gy, gx.i AS gx,
         (seed + 3 * ((gx.i * w) // 9) + 7 * ((gy.i * h) // 8)) % 256 AS v
  FROM corp,
       LATERAL (SELECT unnest(range(0, 9)) AS i) gx,
       LATERAL (SELECT unnest(range(0, 8)) AS i) gy
),
cb AS (
  -- grayscale PNGs: luma = 4*v (the dHash oracle convention)
  SELECT doc_id, gy, gx,
         CASE WHEN LEAD(4 * v) OVER (PARTITION BY doc_id, gy ORDER BY gx)
                   > 4 * v
              THEN 1 ELSE 0 END AS bit
  FROM cg
),
ch AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN gy < 4 AND gx < 8
                       THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN gy >= 4 AND gx < 8
                       THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS lo
  FROM cb GROUP BY doc_id
),
ev AS (SELECT unnest([0, 1]) AS eid),
eg AS (
  SELECT eid, gy.i AS gy, gx.i AS gx,
         (40 + (CASE eid WHEN 0 THEN 3 ELSE 101 END) * ((gx.i * 7) // 9)
             + 7 * ((gy.i * 6) // 8)) % 256 AS v
  FROM ev,
       LATERAL (SELECT unnest(range(0, 9)) AS i) gx,
       LATERAL (SELECT unnest(range(0, 8)) AS i) gy
),
eb AS (
  SELECT eid, gy, gx,
         CASE WHEN LEAD(4 * v) OVER (PARTITION BY eid, gy ORDER BY gx)
                   > 4 * v
              THEN 1 ELSE 0 END AS bit
  FROM eg
),
eh AS (
  SELECT eid,
         CAST(SUM(CASE WHEN gy < 4 AND gx < 8
                       THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN gy >= 4 AND gx < 8
                       THEN bit * (CAST(1 AS BIGINT) << ((gy % 4) * 8 + gx))
                       ELSE 0 END) AS BIGINT) AS lo
  FROM eb GROUP BY eid
),
contaminated AS (
  SELECT DISTINCT ch.doc_id
  FROM ch JOIN eh ON
    bit_count(xor(ch.hi, eh.hi)) + bit_count(xor(ch.lo, eh.lo)) <= 2
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@query(
    "multimodal_image_decontaminate",
    oracle=_IMG_DECON_ORACLE,
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_image_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set image decontamination ORACLED end-to-end: corpus PNGs
    (the dHash fixture family) filtered against two eval images; every
    dHash bit on BOTH sides and every cross Hamming distance recomputed
    in SQL. Corpus media decodes once and never shuffles; the eval side
    is broadcast."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_png(
                3 + i % 14, 2 + i % 9, gradient=(i % 256, 3, 7),
                filters=[0, 1, 2, 3, 4],
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    def esynth(ids):
        def mk(e):
            dx = 3 if int(e) == 0 else 101
            return MM.make_png(7, 6, gradient=(40, dx, 7))

        return ids.map(mk)

    esynth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    esynth_udf = pandas_udf("binary")(esynth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    eval_media = spark.range(2).select(
        F.col("id").alias("doc_id"), esynth_udf(F.col("id")).alias("media")
    )
    kept = MM.image_decontaminate(corpus, eval_media, max_hamming=2)
    return kept.select("doc_id")


# ---------------------------------------------------------------------------
# Silence trimming (multimodal.audio_trim_silence_table): sawtooth wrapped
# in arithmetic-size silence; the oracle recomputes the bounds and the
# trimmed segment's exact integer energy. The ramp's interior zeros
# (v=0 whenever i*step % md == md//2... exactly md even and i*step ≡ md/2)
# are inside the kept segment by construction, so the trim must NOT cut
# at them — an any-zero-trims bug breaks the match.
# ---------------------------------------------------------------------------

_AUDIO_TRIM_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 13 AS step, 129 + 8 * (doc_id % 29) AS md,
         100 + doc_id % 80 AS n,
         doc_id % 30 AS lead, doc_id % 17 AS trail
  FROM documents
),
samp AS (
  SELECT doc_id, n, lead, trail, i.i AS i,
         (i.i * step) % md - md // 2 AS v
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
seg AS (
  SELECT doc_id, MIN(n) AS n, MIN(lead) AS lead, MIN(trail) AS trail,
         MIN(CASE WHEN v <> 0 THEN i END) AS lo,
         MAX(CASE WHEN v <> 0 THEN i END) AS hi
  FROM samp GROUP BY doc_id
),
e AS (
  SELECT s.doc_id, SUM(v * v) AS sq
  FROM samp sm JOIN seg s ON sm.doc_id = s.doc_id
  WHERE sm.i BETWEEN s.lo AND s.hi
  GROUP BY s.doc_id
)
SELECT seg.doc_id AS id,
       CAST(n + lead + trail AS BIGINT) AS n_mono,
       CAST(lead + lo AS BIGINT) AS lead_silence,
       CAST(trail + (n - 1 - hi) AS BIGINT) AS trail_silence,
       CAST(hi - lo + 1 AS BIGINT) AS trimmed_len,
       CAST(e.sq AS BIGINT) AS trimmed_sq_sum
FROM seg JOIN e ON seg.doc_id = e.doc_id
"""


@query("multimodal_audio_trim", oracle=_AUDIO_TRIM_ORACLE, tags=("llm", "multimodal"))
def multimodal_audio_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence trimming ORACLED end-to-end: each clip is a sawtooth
    (odd modulus — interior samples can still be exactly zero when the
    ramp lands on md//2... they cannot for odd md, so the kept-segment
    bounds are the padded silence exactly) wrapped in arithmetic-size
    silence; bounds and trimmed energy recomputed in closed form."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_wav(
                n_samples=100 + i % 80,
                ramp=(3 + i % 13, 129 + 8 * (i % 29)),
                pad=(i % 30, i % 17),
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.audio_trim_silence_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# Audio decontamination (multimodal.audio_decontaminate): corpus
# fingerprints from the 50 waveform classes (the near-pairs CTE) against
# one eval clip synthesized from class-7 parameters; survivors are corpus
# docs farther than Hamming 0 — every bit on both sides recomputed in SQL.
# ---------------------------------------------------------------------------

_AUDIO_DECON_ORACLE = """
WITH k AS (SELECT DISTINCT doc_id % 50 AS key FROM documents),
p AS (
  SELECT key, 3 + key % 13 AS step, 128 + 8 * (key % 29) AS md,
         260 + key AS n
  FROM k
),
samp AS (
  SELECT key, i.i AS i, n // 65 AS L, (i.i * step) % md - md // 2 AS v
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
fr AS (
  SELECT key, i // L AS t, SUM(v * v) AS e
  FROM samp WHERE i < 65 * L GROUP BY key, i // L
),
b AS (
  SELECT key, t,
         CASE WHEN LEAD(e) OVER (PARTITION BY key ORDER BY t) > e
              THEN 1 ELSE 0 END AS bit
  FROM fr
),
f AS (
  SELECT key,
         CAST(SUM(CASE WHEN t < 32 THEN bit * (CAST(1 AS BIGINT) << t)
                       ELSE 0 END) AS BIGINT) AS hi,
         CAST(SUM(CASE WHEN t >= 32 AND t < 64
                       THEN bit * (CAST(1 AS BIGINT) << (t % 32))
                       ELSE 0 END) AS BIGINT) AS lo
  FROM b GROUP BY key
),
ev AS (SELECT hi AS ehi, lo AS elo FROM f WHERE key = 7),
contaminated AS (
  SELECT DISTINCT d.doc_id
  FROM documents d JOIN f ON d.doc_id % 50 = f.key CROSS JOIN ev
  WHERE bit_count(xor(f.hi, ehi)) + bit_count(xor(f.lo, elo)) = 0
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@query(
    "multimodal_audio_decontaminate",
    oracle=_AUDIO_DECON_ORACLE,
    tags=("llm", "multimodal", "dedup"),
)
def multimodal_audio_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set audio decontamination ORACLED end-to-end: the 50-class
    sawtooth corpus filtered against one eval clip (class-7 waveform);
    both sides' fingerprint bits and the cross Hamming distances
    recomputed in SQL. Clips whose fingerprint equals class 7's —
    including OTHER classes that happen to collide — must all drop."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            key = int(i) % 50
            return MM.make_wav(
                n_samples=260 + key,
                ramp=(3 + key % 13, 128 + 8 * (key % 29)),
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    def esynth(ids):
        return ids.map(
            lambda e: MM.make_wav(n_samples=260 + 7, ramp=(3 + 7 % 13, 128 + 8 * (7 % 29)))
        )

    esynth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    esynth_udf = pandas_udf("binary")(esynth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    eval_media = spark.range(1).select(
        F.col("id").alias("doc_id"), esynth_udf(F.col("id")).alias("media")
    )
    kept = MM.audio_decontaminate(corpus, eval_media, max_hamming=0)
    return kept.select("doc_id")


# ---------------------------------------------------------------------------
# Scheduled frame extraction (multimodal.video_frames_at_table): for every
# 100 ms tick, the frame showing at that instant per the REAL stts table.
# The oracle rebuilds the schedule with a window join: frame t covers
# [cum_ts(t), cum_ts(t+1)); ticks fall to the covering frame; variable
# per-frame durations make off-by-one tick assignment break the hash.
# ---------------------------------------------------------------------------

_FRAMES_AT_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents
),
f AS (
  SELECT doc_id, t.i AS t,
         40 + 20 * ((doc_id + t.i) % 3) AS delta,
         2 * ((doc_id + 53 * t.i) % 128) AS shade
  FROM p, LATERAL (SELECT unnest(range(0, nf)) AS i) t
),
ts AS (
  SELECT doc_id, t, shade,
         COALESCE(SUM(delta) OVER (
           PARTITION BY doc_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_ms,
         COALESCE(SUM(delta) OVER (
           PARTITION BY doc_id ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS end_ms,
         MAX(t) OVER (PARTITION BY doc_id) AS last_t
  FROM f
),
ticks AS (
  SELECT ts.doc_id, k.i * 100 AS tick, ts.t, ts.shade, ts.start_ms
  FROM ts, LATERAL (SELECT unnest(range(0, 20)) AS i) k
  WHERE k.i * 100 < (SELECT MAX(start_ms) + 1 FROM ts t2
                     WHERE t2.doc_id = ts.doc_id)
    AND k.i * 100 >= ts.start_ms
    AND (k.i * 100 < ts.end_ms OR ts.t = ts.last_t)
)
SELECT doc_id AS id, CAST(tick AS BIGINT) AS tick_ms,
       CAST(t AS INT) AS frame_idx,
       CAST(5 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(5 * 4 * 3 * shade AS BIGINT) AS pixel_sum,
       CAST(shade AS DOUBLE) AS mean_pixel
FROM ticks
"""


@query("multimodal_frames_at_ticks", oracle=_FRAMES_AT_ORACLE, tags=("llm", "multimodal"))
def multimodal_frames_at_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled frame extraction ORACLED end-to-end: MJPEG MP4s with
    VARIABLE frame durations; every 100 ms tick must decode the frame
    whose stts interval covers it — tick-to-frame assignment, the
    decode, and the closed-form shades all hash-matched."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            nf = 3 + i % 4
            deltas = [40 + 20 * ((i + t) % 3) for t in range(nf)]
            shades = [2 * ((i + 53 * t) % 128) for t in range(nf)]
            return MM.make_mp4_mjpeg(5, 4, shades, frame_deltas=deltas)

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.video_frames_at_table(media, "doc_id", "media", interval_ms=100)


# ---------------------------------------------------------------------------
# Baseline TIFF decode (multimodal.decode_tiff_pixels): uncompressed 8-bit
# RGB in MULTIPLE strips (3 rows each — strip reassembly is what a naive
# single-blob reader gets wrong); same per-coordinate oracle arithmetic as
# the BMP/GIF family, with a row-parity sum pinning strip order.
# ---------------------------------------------------------------------------

_TIFF_ORACLE = """
WITH p AS (
  SELECT doc_id, 3 + doc_id % 14 AS w, 2 + doc_id % 9 AS h,
         doc_id % 256 AS seed
  FROM documents
),
cells AS (
  SELECT doc_id, w, h, y.i AS yy,
         (seed + 3 * x.i + 7 * y.i) % 256 AS v
  FROM p,
       LATERAL (SELECT unnest(range(0, w)) AS i) x,
       LATERAL (SELECT unnest(range(0, h)) AS i) y
),
s AS (
  SELECT doc_id, MIN(w) AS w, MIN(h) AS h,
         SUM(v + (2 * v) % 256 + (3 * v) % 256) AS ps,
         SUM(CASE WHEN yy % 2 = 0 THEN v ELSE 0 END) AS even_row_r_sum
  FROM cells GROUP BY doc_id
)
SELECT doc_id AS id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(even_row_r_sum AS BIGINT) AS even_row_r_sum,
       CAST(ps AS DOUBLE) / (w * h * 3) AS mean_pixel
FROM s
"""


@query("multimodal_tiff_decode", oracle=_TIFF_ORACLE, tags=("llm", "multimodal"))
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode, ORACLED end-to-end: multi-strip
    uncompressed RGB; strip reassembly order pinned by the even-row
    red-channel sum, total sums by per-coordinate arithmetic."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..llm.multimodal import decode_tiff_pixels

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_tiff(
                3 + i % 14, 2 + i % 9, gradient=(i % 256, 3, 7),
                rows_per_strip=3,
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    def stats(batches):
        for pdf in batches:
            rows = []
            for row in pdf.to_dict("records"):
                w, h, c, rgb = decode_tiff_pixels(bytes(row["media"]))
                ps = sum(rgb)
                even = sum(
                    rgb[(y * w + x) * 3]
                    for y in range(0, h, 2)
                    for x in range(w)
                )
                rows.append(
                    {
                        "id": int(row["doc_id"]),
                        "width": w,
                        "height": h,
                        "channels": c,
                        "pixel_sum": ps,
                        "even_row_r_sum": even,
                        "mean_pixel": ps / (w * h * c),
                    }
                )
            yield pd.DataFrame(rows)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return media.mapInPandas(
        stats,
        schema=(
            "id bigint, width int, height int, channels int, "
            "pixel_sum bigint, even_row_r_sum bigint, mean_pixel double"
        ),
    )


# ---------------------------------------------------------------------------
# G.711 companded audio (multimodal.decode_wav_samples, fmt tags 6/7): the
# telephony formats' exact integer expansion recomputed in SQL — mu-law
# (even docs) and A-law (odd docs, INVERTED sign convention) from the same
# arithmetic code ramp; a table or sign slip breaks the signed sum first.
# ---------------------------------------------------------------------------

_G711_ORACLE = """
WITH p AS (
  SELECT doc_id, 120 + doc_id % 60 AS n FROM documents
),
c AS (
  SELECT doc_id, (i.i * 7 + doc_id) % 256 AS code
  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) i
),
dec AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN
      -- mu-law: u = ~code; mag = (mant*8 + 132) * 2^exp - 132
      CASE WHEN (255 - code) >= 128
           THEN -(((((255 - code) % 128) % 16) * 8 + 132)
                    * (1 << (((255 - code) % 128) // 16)) - 132)
           ELSE ((((255 - code) % 16) * 8 + 132)
                    * (1 << ((255 - code) // 16)) - 132)
      END
    ELSE
      -- A-law: a = code XOR 0x55; SET sign bit means POSITIVE
      CASE WHEN xor(code, 85) >= 128 THEN
        CASE WHEN ((xor(code, 85) % 128) // 16) = 0
             THEN ((xor(code, 85) % 16) * 16 + 8)
             ELSE ((xor(code, 85) % 16) * 16 + 264)
                    * (1 << (((xor(code, 85) % 128) // 16) - 1))
        END
      ELSE
        -(CASE WHEN ((xor(code, 85)) // 16) = 0
               THEN ((xor(code, 85) % 16) * 16 + 8)
               ELSE ((xor(code, 85) % 16) * 16 + 264)
                      * (1 << ((xor(code, 85) // 16) - 1))
          END)
      END
    END AS s
  FROM c
)
SELECT doc_id AS id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
       COUNT(*) AS n_samples,
       CAST(SUM(s) AS BIGINT) AS sample_sum,
       CAST(SUM(ABS(s)) AS BIGINT) AS abs_sum,
       CAST(SUM(s * s) AS BIGINT) AS sq_sum
FROM dec GROUP BY doc_id
"""


@query("multimodal_g711_stats", oracle=_G711_ORACLE, tags=("llm", "multimodal"))
def multimodal_g711_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 expansion, ORACLED end-to-end: mu-law WAVs (even docs)
    and A-law WAVs (odd docs) built from an arithmetic code ramp,
    decoded through the real fmt-tag dispatch, integer sums recomputed
    in SQL bit-for-bit — including A-law's inverted sign convention."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def synth(ids):
        def mk(i):
            i = int(i)
            codes = [(k * 7 + i) % 256 for k in range(120 + i % 60)]
            return MM.make_g711_wav(
                codes, codec="ulaw" if i % 2 == 0 else "alaw"
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    return MM.audio_stats_table(media, "doc_id", "media")


# ---------------------------------------------------------------------------
# REAL CNN image classification (ml/cnn.py TinyConvNet: im2col convs +
# pooling + dense, deterministic weights; ml/deeplearn scoring head). Two
# texture families (smooth vs high-frequency wrap gradients) synthesized
# per doc; nearest-centroid against two driver-embedded exemplars
# classifies every image, and the family populations are closed-form in
# doc_id — a single flipped prediction anywhere in the corpus breaks the
# count match, so the whole decode -> resize -> normalize -> conv forward
# -> cosine head is pinned deterministic end to end.
# ---------------------------------------------------------------------------

_CNN_CLASSIFY_ORACLE = """
SELECT 'rough' AS label,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM documents
UNION ALL
SELECT 'smooth' AS label,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM documents
"""


@query(
    "multimodal_cnn_classify",
    oracle=_CNN_CLASSIFY_ORACLE,
    tags=("llm", "multimodal", "ml"),
)
def multimodal_cnn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image classification through the REAL convolutional forward pass
    (reference: deeplearn InceptionClassifier/VGG16Classifier — here the
    bundled from-scratch CNN; a trained .npz plugs in via the weights
    seam). Per-doc texture PNGs, centroids from two exemplar embeddings
    computed once on the driver (kilobytes, closure-shipped), mapInPandas
    classification; per-label counts hash-match the closed-form family
    populations — every image must classify correctly."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..ml.cnn import cnn_embed_bytes
    from ..ml.deeplearn import classify_images

    def png_for(i: int) -> bytes:
        dx, dy = (3, 2) if i % 2 == 0 else (131, 77)
        return MM.make_png(
            18 + i % 7, 14 + i % 5, gradient=((i * 7) % 256, dx, dy)
        )

    centroids = {
        "smooth": cnn_embed_bytes(MM.make_png(20, 16, gradient=(5, 3, 2))),
        "rough": cnn_embed_bytes(MM.make_png(20, 16, gradient=(5, 131, 77))),
    }

    def synth(ids):
        return ids.map(lambda i: png_for(int(i)))

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    labeled = classify_images(
        media, "media", centroids, top_n=1,
        embedder=cnn_embed_bytes, out_col="labels",
    )
    return (
        labeled.select(F.get("labels", 0)["label"].alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# PRETRAINED CNN classification (r7 verdict #4): the SHIPPED trained
# weights artifact (tuktu_spark/ml/weights/tinyconvnet_textures_v1.npz,
# reproducible via scripts/train_cnn_weights.py) loaded through the same
# config['weights'] .npz seam the reference uses for InceptionV3/VGG16
# binaries (modules/deeplearn/app/tuktu/deeplearn/models/). 4-way texture
# orientation; the trained head's logits are scored against one-hot
# centroids (cosine argmax == logit argmax: the norm is per-image), so
# the whole operator seam — load_weights narrow-head inference, embedder
# closure shipping, mapInPandas batch matmul head — is on the hash path.
# Class populations are closed-form in doc_id; the shipped artifact was
# validated to ZERO errors over doc_id 0..4999, so one flipped
# prediction anywhere breaks the count match. He-random-baseline
# accuracy invariants live in tests/test_cnn_pretrained.py.
# ---------------------------------------------------------------------------

_CNN_PRETRAINED_ORACLE = """
WITH m AS (
  SELECT CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'horizontal' WHEN 1 THEN 'vertical'
    WHEN 2 THEN 'diagonal' ELSE 'rough' END AS label
  FROM documents
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY label
"""


@query(
    "multimodal_cnn_pretrained_classify",
    oracle=_CNN_PRETRAINED_ORACLE,
    tags=("llm", "multimodal", "ml"),
)
def multimodal_cnn_pretrained_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image classification with REAL TRAINED weights through the .npz
    seam: per-doc orientation textures, image_classify operator with
    model='cnn' + config['weights'] pointing at the shipped artifact,
    per-label counts hash-matching the closed-form family populations."""
    import os

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .. import ml as _ml_pkg
    from ..operators import make_operator

    weights = os.path.join(
        os.path.dirname(os.path.abspath(_ml_pkg.__file__)),
        "weights", "tinyconvnet_textures_v1.npz",
    )
    fams = ((7, 0), (0, 7), (7, 7), (131, 77))  # scripts/train_cnn_weights.py
    labels = ("horizontal", "vertical", "diagonal", "rough")

    def png_for(i: int) -> bytes:
        dx, dy = fams[i % 4]
        return MM.make_png(
            18 + i % 7, 14 + (i // 4) % 5, gradient=((i * 37) % 256, dx, dy)
        )

    def synth(ids):
        return ids.map(lambda i: png_for(int(i)))

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    # one-hot centroids over the trained 4-logit head: cosine ranking
    # equals logit ranking (same per-image norm divides every score)
    centroids = {
        lb: [1.0 if j == k else 0.0 for j in range(4)]
        for k, lb in enumerate(labels)
    }
    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    labeled = make_operator(
        "image_classify",
        {
            "field": "media",
            "centroids": centroids,
            "model": "cnn",
            "weights": weights,
            "top_n": 1,
            "flatten": True,
        },
    )(media)
    return (
        labeled.select(F.col("labels").alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Distributed CNN TRAINING (ml/cnn.py train_cnn_distributed): data-parallel
# full-batch SGD with momentum — each epoch ships the ~5k-param net in the
# UDF closure, partitions return exact gradient sums over their images,
# the driver reduces and steps. Trains on the 60 lowest doc_ids (a
# deterministic subset present at every SF), then classifies the WHOLE
# corpus with the trained net; per-class counts are closed-form in doc_id
# and `converged` asserts the final training loss — one wrong prediction
# or a training drift anywhere breaks the row.
# ---------------------------------------------------------------------------

_CNN_TRAIN_ORACLE = """
SELECT CAST(doc_id % 2 AS BIGINT) AS pred,
       CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS converged
FROM documents GROUP BY doc_id % 2
"""


@query(
    "multimodal_cnn_train_eval",
    oracle=_CNN_TRAIN_ORACLE,
    tags=("llm", "multimodal", "ml"),
)
def multimodal_cnn_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the from-scratch CNN with distributed data-parallel SGD and
    evaluate it over the full corpus — the missing half of the reference's
    deeplearn module (which only ever RUNS pretrained nets). Gradients are
    finite-difference-verified in tests; training is deterministic for the
    fixed scan layout, so the full-corpus predictions hash-match a
    closed-form oracle."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..ml.cnn import cnn_predict_label, train_cnn_distributed

    def png_for(i: int) -> bytes:
        dx, dy = (3, 2) if i % 2 == 0 else (131, 77)
        return MM.make_png(
            18 + i % 7, 14 + i % 5, gradient=((i * 7) % 256, dx, dy)
        )

    def synth(ids):
        return ids.map(lambda i: png_for(int(i)))

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select(
        "doc_id", synth_udf(F.col("doc_id")).alias("media"),
        (F.col("doc_id") % 2).alias("label"),
    )
    train = media.filter(F.col("doc_id") < 60)
    net, losses = train_cnn_distributed(
        train, "media", "label", n_classes=2, epochs=12, lr=0.5
    )
    converged = bool(losses[-1] < 0.05)

    def predict(payloads: pd.Series) -> pd.Series:
        return payloads.map(lambda b: cnn_predict_label(bytes(b), net))

    predict.__annotations__ = {"payloads": pd.Series, "return": pd.Series}
    pred_udf = pandas_udf("long")(predict)
    return (
        media.select(pred_udf(F.col("media")).alias("pred"))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("converged", F.lit(converged))
    )


# ---------------------------------------------------------------------------
# Audio classification through the REAL PCM decode + energy/ZCR front end
# (ml/cnn.audio_embed_bytes) and the shared cosine scoring head — the
# audio twin of multimodal_cnn_classify. Tonal sawtooth vs period-2
# square families; per-label counts closed-form in doc_id.
# ---------------------------------------------------------------------------

_AUDIO_CLASSIFY_ORACLE = """
SELECT 'square' AS label,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM documents
UNION ALL
SELECT 'tone' AS label,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM documents
"""


@query(
    "multimodal_audio_classify",
    oracle=_AUDIO_CLASSIFY_ORACLE,
    tags=("llm", "multimodal", "ml"),
)
def multimodal_audio_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip classification end to end: RIFF/WAVE decode -> framed
    log-energy + zero-crossing embedding -> nearest-centroid head
    (audio_classify operator path). Every clip in the corpus must
    classify correctly for the per-label counts to match."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..ml.cnn import audio_embed_bytes
    from ..ml.deeplearn import classify_images

    def wav_for(i: int) -> bytes:
        n = 400 + i % 50
        if i % 2 == 1:
            return MM.make_wav(n_samples=n, square=(8000, 2))
        return MM.make_wav(n_samples=n, ramp=(3 + i % 4, 2000))

    centroids = {
        "tone": audio_embed_bytes(MM.make_wav(n_samples=420, ramp=(4, 2000))),
        "square": audio_embed_bytes(MM.make_wav(n_samples=420, square=(8000, 2))),
    }

    def synth(ids):
        return ids.map(lambda i: wav_for(int(i)))

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    labeled = classify_images(
        media, "media", centroids, top_n=1,
        embedder=audio_embed_bytes, out_col="labels",
    )
    return (
        labeled.select(F.get("labels", 0)["label"].alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# PRETRAINED audio classification (r8 verdict #9): the SHIPPED trained
# head artifact (tuktu_spark/ml/weights/audiohead_energyzcr_v1.npz,
# reproducible via scripts/train_audio_head_weights.py) loaded through
# the audio_classify config['weights'] seam — the audio twin of
# multimodal_cnn_pretrained_classify, on a 4-way waveform-family task a
# nearest-centroid head cannot fake (the He-random baseline measures 0.24
# accuracy; tests/test_audio_head.py pins trained-beats-random). Class
# populations are closed-form in doc_id; the artifact was validated to
# ZERO errors over the full wav-tuple period (doc_id 0..199 covers every
# doc_id at any SF), so one flipped prediction breaks the count match.
# ---------------------------------------------------------------------------

_AUDIO_PRETRAINED_ORACLE = """
WITH m AS (
  SELECT CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'tone' WHEN 1 THEN 'buzz'
    WHEN 2 THEN 'hum' ELSE 'padded' END AS label
  FROM documents
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY label
"""


@query(
    "multimodal_audio_pretrained_classify",
    oracle=_AUDIO_PRETRAINED_ORACLE,
    tags=("llm", "multimodal", "ml"),
)
def multimodal_audio_pretrained_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip classification with REAL TRAINED weights through the .npz
    seam: per-doc waveform families, audio_classify operator with
    config['weights'] pointing at the shipped trained head, per-label
    counts hash-matching the closed-form family populations."""
    import os

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .. import ml as _ml_pkg
    from ..operators import make_operator

    weights = os.path.join(
        os.path.dirname(os.path.abspath(_ml_pkg.__file__)),
        "weights", "audiohead_energyzcr_v1.npz",
    )
    labels = ("tone", "buzz", "hum", "padded")

    def wav_for(i: int) -> bytes:
        # shared with scripts/train_audio_head_weights.py (query_wav)
        n = 400 + (i % 50)
        cls = i % 4
        if cls == 0:
            return MM.make_wav(n_samples=n, ramp=(3 + i % 8, 2000))
        if cls == 1:
            return MM.make_wav(n_samples=n, square=(8000, 2))
        if cls == 2:
            return MM.make_wav(n_samples=n, square=(8000, 16))
        return MM.make_wav(n_samples=n, ramp=(5 + i % 8, 1500), pad=(100, 100))

    def synth(ids):
        return ids.map(lambda i: wav_for(int(i)))

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    # one-hot centroids over the trained 4-logit head: cosine ranking
    # equals logit ranking (same per-clip norm divides every score)
    centroids = {
        lb: [1.0 if j == k else 0.0 for j in range(4)]
        for k, lb in enumerate(labels)
    }
    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    labeled = make_operator(
        "audio_classify",
        {
            "field": "media",
            "centroids": centroids,
            "weights": weights,
            "top_n": 1,
            "flatten": True,
        },
    )(media)
    return (
        labeled.select(F.col("labels").alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Video classification: REAL AVI decode -> per-frame CNN embedding ->
# temporal mean pool -> cosine head (ml/cnn.video_embed_bytes through the
# video_classify operator path). Smooth vs high-frequency texture video
# families; counts closed-form in doc_id. Deterministic end to end
# (measured min within-class cosine 0.996 > max cross-class 0.985 — a
# thin but EXACT margin; floats are bit-stable so it cannot flake).
# ---------------------------------------------------------------------------

_VIDEO_CLASSIFY_ORACLE = """
SELECT 'rough' AS label,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM documents
UNION ALL
SELECT 'smooth' AS label,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
FROM documents
"""


@query(
    "multimodal_video_classify",
    oracle=_VIDEO_CLASSIFY_ORACLE,
    tags=("llm", "multimodal", "ml"),
)
def multimodal_video_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip label over REAL video decode: every frame of every AVI
    decodes (RIFF walk + DIB rows), embeds through the CNN, mean-pools
    and scores; per-label counts must equal the closed-form family
    populations — one misclassified clip anywhere breaks the row."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..ml.cnn import video_embed_bytes
    from ..ml.deeplearn import classify_images

    def avi_for(i: int) -> bytes:
        dx, dy = (3, 7) if i % 2 == 0 else (131, 77)
        return MM.make_avi(
            14 + i % 4, 10 + i % 3, 3 + i % 2,
            codec="DIB ", gradient=((i * 5) % 256, dx, dy, 11),
        )

    centroids = {
        "smooth": video_embed_bytes(
            MM.make_avi(15, 11, 4, codec="DIB ", gradient=(40, 3, 7, 11))
        ),
        "rough": video_embed_bytes(
            MM.make_avi(15, 11, 4, codec="DIB ", gradient=(40, 131, 77, 11))
        ),
    }

    def synth(ids):
        return ids.map(lambda i: avi_for(int(i)))

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    labeled = classify_images(
        media, "media", centroids, top_n=1,
        embedder=video_embed_bytes, out_col="labels",
    )
    return (
        labeled.select(F.get("labels", 0)["label"].alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Video classification with TRAINED weights (r10): completes the
# image (r8) / audio (r9) / video trained-artifact trio. Four
# gradient-texture families that the UNTRAINED cosine-centroid scorer
# cannot separate (measured within-class min cosine 0.9825 < cross-class
# max 0.9972 over the full period) — the shipped trained head is exact
# over the whole closed-form family (validated for the full doc_id
# period at training time and pinned in tests/test_video_head.py).
# ---------------------------------------------------------------------------

_VIDEO_PRETRAINED_ORACLE = """
WITH m AS (
  SELECT CASE CAST(doc_id % 4 AS INT)
    WHEN 0 THEN 'vertical' WHEN 1 THEN 'horizontal'
    WHEN 2 THEN 'diagonal' ELSE 'rough' END AS label
  FROM documents
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY label
"""


@query(
    "multimodal_video_pretrained_classify",
    oracle=_VIDEO_PRETRAINED_ORACLE,
    tags=("llm", "multimodal", "ml"),
)
def multimodal_video_pretrained_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video classification with REAL TRAINED weights through the .npz
    seam: per-doc AVI texture families (REAL RIFF decode -> per-frame
    CNN -> temporal mean pool), video_classify operator with
    config['weights'] pointing at the shipped trained head, per-label
    counts hash-matching the closed-form family populations."""
    import os

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from .. import ml as _ml_pkg
    from ..operators import make_operator

    weights = os.path.join(
        os.path.dirname(os.path.abspath(_ml_pkg.__file__)),
        "weights", "videohead_cnnpool_v1.npz",
    )
    labels = ("vertical", "horizontal", "diagonal", "rough")
    grads = {0: (3, 91, 11), 1: (91, 3, 11), 2: (17, 23, 11), 3: (131, 77, 11)}

    def avi_for(i: int) -> bytes:
        # shared with scripts/train_video_head_weights.py (query_avi)
        dx, dy, dt = grads[i % 4]
        return MM.make_avi(
            14 + i % 4, 10 + i % 3, 3 + i % 2,
            codec="DIB ", gradient=((i % 40) * 6, dx, dy, dt),
        )

    def synth(ids):
        return ids.map(lambda i: avi_for(int(i)))

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    # one-hot centroids over the trained 4-logit head: cosine ranking
    # equals logit ranking (same per-clip norm divides every score)
    centroids = {
        lb: [1.0 if j == k else 0.0 for j in range(4)]
        for k, lb in enumerate(labels)
    }
    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    labeled = make_operator(
        "video_classify",
        {
            "field": "media",
            "centroids": centroids,
            "weights": weights,
            "top_n": 1,
            "flatten": True,
        },
    )(media)
    return (
        labeled.select(F.col("labels").alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# SEMANTIC image dedup: CNN embeddings into the SemDeDup machinery
# (llm/similarity.semdedup) — the embedding-level dedup pass that catches
# re-rendered/resized variants byte- and perceptual-hash dedup can miss.
# Two texture families; every member of a family embeds within cosine
# 0.987 of every other (measured min over all size combos) while
# cross-family tops out at 0.956, so at eps=0.03 each family is one
# mutual-duplicate clique inside its own cluster and SemDeDup's greedy
# closure keeps EXACTLY ONE image per family — n_members and n_kept are
# closed-form in doc_id.
# ---------------------------------------------------------------------------

_IMG_SEMDEDUP_ORACLE = """
SELECT CAST(doc_id % 2 + 1 AS INT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(1 AS BIGINT) AS n_kept
FROM documents GROUP BY doc_id % 2
"""


@query(
    "dedup_image_semantic",
    oracle=_IMG_SEMDEDUP_ORACLE,
    tags=("llm", "multimodal", "dedup", "similarity"),
)
def dedup_image_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image corpus -> CNN embeddings -> SemDeDup: one keeper per
    semantic-duplicate clique (cluster-edge keep rule), with the corpus
    shuffling once on cluster id and pair work bounded per cluster —
    the SemDeDup scale shape applied to real decoded images."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..llm import similarity as S
    from ..ml.cnn import cnn_embed_bytes

    def png_for(i: int) -> bytes:
        dx, dy = (3, 2) if i % 2 == 0 else (131, 77)
        return MM.make_png(
            18 + i % 7, 14 + i % 5, gradient=((i * 7) % 256, dx, dy)
        )

    def embed(ids: pd.Series) -> pd.Series:
        return ids.map(lambda i: cnn_embed_bytes(png_for(int(i))))

    embed.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    embed_udf = pandas_udf("array<double>")(embed)

    centroids = [
        cnn_embed_bytes(MM.make_png(20, 16, gradient=(5, 3, 2))),
        cnn_embed_bytes(MM.make_png(20, 16, gradient=(5, 131, 77))),
    ]
    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    vecs = docs.select("doc_id", embed_udf(F.col("doc_id")).alias("embedding"))
    out = S.semdedup(vecs, centroids, eps=0.03, id_col="doc_id")
    return out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("keep").cast("bigint")).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (llm/cdc.py — LBFS/FastCDC, public):
# sub-file dedup for binary corpora. Blobs are identical WITHIN each of
# 25 groups (deterministic byte streams), so per group every member
# chunks identically: exactly ONE distinct chunk-sequence, chunks tile
# the blob contiguously, and chunk-level dedup recovers exactly the
# group redundancy (total bytes == unique bytes x members). The oracle
# states the closed-form group populations and the invariants as TRUE
# literals the query must earn.
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
SELECT CAST(doc_id % 25 AS INT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(1 AS BIGINT) AS n_seqs,
       TRUE AS tiled_ok,
       TRUE AS dedup_exact_ok
FROM documents GROUP BY doc_id % 25
"""


@query("multimodal_cdc_dedup", oracle=_CDC_ORACLE, tags=("llm", "multimodal", "dedup"))
def multimodal_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC chunking + chunk-hash dedup end to end: rolling-Gear
    boundaries inside Arrow batches, one groupBy(chunk_md5); per group
    the query proves one distinct chunk sequence, contiguous tiling of
    every blob, and byte-exact dedup accounting."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    from ..llm.cdc import cdc_chunk_table

    def synth(ids):
        import hashlib

        def mk(i):
            g = int(i) % 25
            # aperiodic deterministic stream (md5 blocks): a periodic
            # pattern would repeat CHUNKS inside one blob and break the
            # total == unique x members accounting
            return b"".join(
                hashlib.md5(f"{g}:{j}".encode()).digest()
                for j in range(38 + g)
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)

    docs = load_table(spark, sf_dir, "documents", parallel=True).select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    chunks = tables.persist(cdc_chunk_table(media, "doc_id", "media"))
    w = Window.partitionBy("id").orderBy("chunk_idx")
    tiled = chunks.withColumn(
        "__contig",
        F.col("offset")
        == F.coalesce(
            F.lag(F.col("offset") + F.col("length")).over(w), F.lit(0)
        ),
    )
    per_doc = tiled.groupBy("id").agg(
        F.min("__contig").alias("tiled"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_md5"))
                    ),
                    lambda c: c["chunk_md5"],
                ),
                ",",
            )
        ).alias("seq_md5"),
        F.sum("length").alias("blob_bytes"),
    )
    per_group = per_doc.withColumn("grp", F.pmod("id", F.lit(25)).cast("int"))
    grp_stats = per_group.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("seq_md5").alias("n_seqs"),
        F.min("tiled").alias("tiled_ok"),
        F.sum("blob_bytes").alias("total_bytes"),
    )
    # chunk-level dedup accounting per group: identical members mean
    # unique bytes x members == total bytes, exactly
    uniq = (
        chunks.withColumn("grp", F.pmod("id", F.lit(25)).cast("int"))
        .groupBy("grp", "chunk_md5")
        .agg(F.max("length").alias("length"))
        .groupBy("grp")
        .agg(F.sum("length").alias("unique_bytes"))
    )
    out = grp_stats.join(uniq, "grp").select(
        "grp",
        "n_members",
        "n_seqs",
        "tiled_ok",
        (
            F.col("total_bytes")
            == F.col("unique_bytes") * F.col("n_members")
        ).alias("dedup_exact_ok"),
    )
    out = tables.checkpoint(out)
    tables.unpersist(chunks)
    return out
