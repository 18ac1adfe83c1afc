"""Streaming queries on the driver surface: the events table is replayed
through the REAL Structured Streaming code path (file-stream micro-batches,
event-time windows, watermark) and the final state is oracle-checked
against the batch SQL truth — the strongest correctness statement a
bounded replay can make about the unbounded path.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import streaming as STR
from ..tables import load_table
from . import query

_TUMBLING_ORACLE = """
SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS window_start,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


@query("streaming_tumbling_replay", oracle=_TUMBLING_ORACLE, tags=("streaming",))
def streaming_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts computed BY THE STREAMING ENGINE: ordered
    4-chunk replay -> withWatermark -> window() groupBy -> update-mode
    memory sink; a window's final update is its count, so max() over the
    update log equals the batch answer exactly."""
    events = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="tuktu_stream_replay_")
    stream = STR.replay_dataframe(events, stage, chunks=4, order_col="ts")
    windowed = STR.tumbling_window_agg(
        stream, "ts", "1 hour", {"n": F.count(F.lit(1))}, watermark="1 hour"
    )
    q, name = STR.memory_sink(windowed, output_mode="update")
    q.processAllAvailable()
    q.stop()
    return (
        spark.table(name)
        .groupBy("window_start")
        .agg(F.max("n").alias("n"))
    )


# Same gap-sessionization truth as the batch session_window_per_user query
# (timeops._SESSION_ORACLE): the streaming engine must converge to it.
_SESSION_REPLAY_ORACLE = """
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                   >= INTERVAL 30 MINUTE
              OR lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, t,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
)
SELECT user_id, MIN(t) AS session_start, COUNT(*) AS n_events
FROM sessions GROUP BY user_id, sid
"""


@query("streaming_session_replay", oracle=_SESSION_REPLAY_ORACLE, tags=("streaming",))
def streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute session windows computed BY THE STREAMING ENGINE:
    ordered replay -> withWatermark -> session_window groupBy in APPEND
    mode (the only mode Spark supports for streaming session windows) ->
    memory sink. Append emits a session only once the watermark passes its
    close, so the replay adds one far-future SENTINEL event (user_id -1,
    max ts + 7 days) in a final chunk to flush every real session; the
    sentinel's own never-emitted session is filtered out. The sink then
    holds exactly the batch gap-sessionization truth."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    max_ts = events.agg(F.max("ts")).first()[0]
    sentinel = events.sparkSession.createDataFrame(
        [(-1, max_ts)], "user_id bigint, ts timestamp"
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 7 DAYS"))
    stage = tempfile.mkdtemp(prefix="tuktu_stream_session_")
    stream = STR.replay_dataframe(
        events.select(F.col("user_id").cast("bigint"), "ts").unionByName(sentinel),
        stage,
        chunks=5,
        order_col="ts",
    )
    sessioned = STR.session_window_agg(
        stream,
        "ts",
        "30 minutes",
        {"n_events": F.count(F.lit(1))},
        keys=["user_id"],
        watermark="1 hour",
    )
    q, name = STR.memory_sink(sessioned, output_mode="append")
    q.processAllAvailable()
    q.stop()
    return spark.table(name).filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("window_start").alias("session_start"),
        "n_events",
    )


_JOIN_REPLAY_ORACLE = """
SELECT p.user_id, COUNT(*) AS n_pairs
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
GROUP BY p.user_id
"""


@query("streaming_join_replay", oracle=_JOIN_REPLAY_ORACLE, tags=("streaming",))
def streaming_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM interval join executed by the streaming
    engine: purchases join clicks by the same user within the preceding 30
    minutes (state-bounded form — watermark + event-time range give the
    engine an eviction horizon). Both sides replay the same ordered chunk
    files through independent file-stream sources; every qualifying pair
    is appended exactly once, so the per-user pair counts over the sink
    equal the batch self-join truth."""
    events = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="tuktu_stream_join_")
    purchases = STR.replay_dataframe(events, stage, chunks=4, order_col="ts").filter(
        F.col("event_type") == "purchase"
    )
    import os

    clicks = STR.file_stream_source(
        spark,
        os.path.join(stage, "replay"),
        "parquet",
        schema=events.schema,
        max_files_per_trigger=1,
    ).filter(F.col("event_type") == "click")
    joined = STR.stream_stream_interval_join(
        purchases.select("user_id", "ts"),
        clicks.select("user_id", F.col("ts").alias("c_ts")),
        on=["user_id"],
        left_ts="ts",
        right_ts="c_ts",
        lower="30 minutes",
        upper="0 seconds",
        watermark="1 hour",
    )
    q, name = STR.memory_sink(
        joined.select(F.col("l.user_id").alias("user_id")), output_mode="append"
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


# DSIR weighting through the REAL streaming path: the llr model is fit in
# batch (frozen), documents replay in 4 micro-batches through the
# foreachBatch store, and the store's content must equal the batch weights
# — the oracle recomputes them from scratch in SQL (shared CTE with
# mix_dsir_select).
from .llm_text import _DSIR_B, _DSIR_WEIGHTS_CTE  # noqa: E402

_DSIR_REPLAY_ORACLE = f"""{_DSIR_WEIGHTS_CTE}
SELECT doc_id, n_feats, logw_q FROM w
"""


@query("streaming_dsir_replay", oracle=_DSIR_REPLAY_ORACLE, tags=("streaming", "llm"))
def streaming_dsir_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights computed BY THE STREAMING ENGINE: frozen
    llr model (fit in batch on target=en vs raw=all), ordered 4-chunk
    replay -> window-free gram featurization -> exact BIGINT weight sums
    -> batch_id-partitioned store; the store must hold every document's
    weight bit-equal to the batch computation the oracle replays."""
    import tempfile

    from ..llm.dsir import hashed_ngram_features, train_dsir_llr
    from ..streaming.llm import streaming_dsir_weights

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("tokens")
    )
    tf = hashed_ngram_features(d.filter(F.col("lang") == "en"), buckets=_DSIR_B)
    rf = hashed_ngram_features(d, buckets=_DSIR_B)
    llr = train_dsir_llr(tf, rf, buckets=_DSIR_B)
    stage = tempfile.mkdtemp(prefix="tuktu_dsir_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_dsir_scores_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_dsir_ckpt_")
    stream = STR.replay_dataframe(
        d.select("doc_id", "tokens"), stage, chunks=4, order_col="doc_id"
    )
    q = streaming_dsir_weights(stream, llr, out_dir, ckpt, buckets=_DSIR_B)
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir).select("doc_id", "n_feats", "logw_q")


# Perceptual media dedup through the REAL streaming path: images replay in
# 4 micro-batches through the foreachBatch signature store; the surviving
# set must equal the batch first-seen-by-dHash truth, which the oracle
# recomputes per-bit from doc_id arithmetic (shared CTE with
# multimodal_image_dhash).
from .llm_multimodal import _DHASH_ORACLE  # noqa: E402

_MEDIA_DEDUP_REPLAY_ORACLE = f"""
WITH sigs AS ({_DHASH_ORACLE})
SELECT CAST(MIN(id) AS BIGINT) AS doc_id
FROM sigs GROUP BY dhash_hi, dhash_lo
"""


@query(
    "streaming_media_dedup_replay",
    oracle=_MEDIA_DEDUP_REPLAY_ORACLE,
    tags=("streaming", "llm", "multimodal"),
)
def streaming_media_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup executed BY THE STREAMING ENGINE: each
    micro-batch reduces its PNGs to dHash signatures (the batch table's
    exact arithmetic), keeps first-seen signatures against the
    accumulated store, and the surviving doc_ids must equal the batch
    min-id-per-signature truth the oracle recomputes bit-for-bit."""
    import tempfile

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..llm import multimodal as MM
    from ..streaming.llm import streaming_media_dedup

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
    corpus = load_table(spark, sf_dir, "documents").select(
        "doc_id", synth_udf(F.col("doc_id")).alias("media")
    )
    stage = tempfile.mkdtemp(prefix="tuktu_media_dedup_replay_")
    store = tempfile.mkdtemp(prefix="tuktu_media_dedup_store_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_media_dedup_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_media_dedup_ckpt_")
    stream = STR.replay_dataframe(corpus, stage, chunks=4, order_col="doc_id")
    q = streaming_media_dedup(stream, store, out_dir, ckpt, kind="image")
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir).select("doc_id")


# Scene-cut detection through the REAL stateful streaming path: per-frame
# dHash rows replay in frame_idx order (every video split across
# micro-batches), the applyInPandasWithState operator carries one 24-byte
# triple per video, and the emitted rows must equal the batch window's —
# the oracle recomputes every dHash bit and XOR popcount from doc_id
# arithmetic (shared with multimodal_video_scene_cuts).
from .llm_multimodal import _SCENE_CUTS_ORACLE  # noqa: E402


@query(
    "streaming_scene_cuts_replay",
    oracle=_SCENE_CUTS_ORACLE,
    tags=("streaming", "llm", "multimodal"),
)
def streaming_scene_cuts_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene cuts computed BY THE STREAMING ENGINE: frame signatures
    replay across micro-batches in sequence order; the stateful
    operator's output must hash-match the same per-bit oracle as the
    batch window."""
    import tempfile

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..llm import multimodal as MM
    from ..streaming.llm import streaming_scene_cuts

    def synth(ids):
        def mk(i):
            i = int(i)
            n = 4 + i % 3
            grads = [
                (i % 256, 3 if (t // 2) % 2 == 0 else 253, 7) for t in range(n)
            ]
            return MM.make_avi(3 + i % 6, 2 + i % 5, n, frame_gradients=grads)

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = docs.select("doc_id", synth_udf(F.col("doc_id")).alias("media"))
    hashes = MM.video_frame_dhash_table(media, "doc_id", "media")
    stage = tempfile.mkdtemp(prefix="tuktu_scene_replay_")
    stream = STR.replay_dataframe(hashes, stage, chunks=3, order_col="frame_idx")
    cuts = streaming_scene_cuts(stream, threshold=8)
    q, name = STR.memory_sink(cuts, output_mode="append")
    q.processAllAvailable()
    q.stop()
    return spark.table(name).select("id", "frame_idx", "hamming", "is_cut")


# CNN inference executed BY THE STREAMING ENGINE: images replay in 4
# micro-batches through foreachBatch classification (fixed deterministic
# net + exemplar centroids); the accumulated (doc_id, label) store must
# equal the closed-form family assignment — one wrong label in any
# micro-batch breaks the match, and a batch replay must not duplicate.
_STREAM_CLASSIFY_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'smooth' ELSE 'rough' END AS label
FROM documents
"""


@query(
    "streaming_cnn_classify_replay",
    oracle=_STREAM_CLASSIFY_ORACLE,
    tags=("streaming", "llm", "multimodal", "ml"),
)
def streaming_cnn_classify_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming media classification: the CNN embedder + centroid head
    running per micro-batch over a deterministic 4-chunk replay, with
    idempotent batch_id-partitioned output."""
    import tempfile

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..llm import multimodal as MM
    from ..ml.cnn import cnn_embed_bytes
    from ..streaming.llm import make_classify_batch_processor, streaming_classify

    def synth(ids):
        def mk(i):
            i = int(i)
            dx, dy = (3, 2) if i % 2 == 0 else (131, 77)
            return MM.make_png(
                18 + i % 7, 14 + i % 5, gradient=((i * 7) % 256, dx, dy)
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)
    corpus = load_table(spark, sf_dir, "documents").select(
        "doc_id", synth_udf(F.col("doc_id")).alias("media")
    )
    centroids = {
        "smooth": cnn_embed_bytes(MM.make_png(20, 16, gradient=(5, 3, 2))),
        "rough": cnn_embed_bytes(MM.make_png(20, 16, gradient=(5, 131, 77))),
    }
    stage = tempfile.mkdtemp(prefix="tuktu_cls_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_cls_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_cls_ckpt_")
    stream = STR.replay_dataframe(corpus, stage, chunks=4, order_col="doc_id")
    q = streaming_classify(
        stream, out_dir, ckpt, centroids, cnn_embed_bytes
    )
    q.processAllAvailable()
    q.stop()
    # idempotency: a foreachBatch REPLAY redelivers the SAME batch rows;
    # re-running batch 0 with its own data must rewrite its partition,
    # not append duplicates
    n = spark.read.parquet(out_dir).count()
    b0_ids = spark.read.parquet(out_dir).filter(
        F.col("batch_id") == 0
    ).select("doc_id")
    proc = make_classify_batch_processor(
        spark, out_dir, centroids, cnn_embed_bytes
    )
    proc(corpus.join(b0_ids, "doc_id"), 0)
    assert spark.read.parquet(out_dir).count() == n
    return spark.read.parquet(out_dir).select("doc_id", "label")


# ANN-index construction AT INGEST, executed by the streaming engine:
# embeddings replay in 4 micro-batches into a (batch_id, list_id)-
# partitioned index against FROZEN seed centroids; the post-replay probe
# (3 nearest lists per query, exact cosine, top-5) must equal the
# oracle's full IVF replay in SQL — the probe sees every batch's
# vectors, so a lost/duplicated batch or a drifting assignment breaks it.
from .llm_similarity import _cosine_sql as _COS  # noqa: E402
from .llm_similarity import _L2_SQL as _L2  # noqa: E402

_ANN_INGEST_SEEDS = 8
_ANN_INGEST_QUERIES = 10

_ANN_INGEST_ORACLE = f"""
WITH cent AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cidx,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id < {_ANN_INGEST_SEEDS}
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
asg AS (
  SELECT e.vec_id, e.v, c.cidx,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_L2.format(a='e.v', b='c.cv')}, c.cidx) AS rk
  FROM e CROSS JOIN cent c
),
lists AS (SELECT vec_id, v, CAST(cidx AS INT) AS list_id FROM asg WHERE rk = 1),
qprobe AS (
  SELECT e.vec_id AS query_id, e.v AS qv, CAST(c.cidx AS INT) AS list_id
  FROM e CROSS JOIN cent c
  WHERE e.vec_id < {_ANN_INGEST_QUERIES}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY e.vec_id
                             ORDER BY {_L2.format(a='e.v', b='c.cv')}, c.cidx) <= 3
),
scored AS (
  SELECT q.query_id, l.vec_id AS neighbor_id,
         {_COS('q.qv', 'l.v')} AS cosine
  FROM qprobe q JOIN lists l ON l.list_id = q.list_id
  WHERE l.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@query(
    "streaming_ann_ingest_replay",
    oracle=_ANN_INGEST_ORACLE,
    tags=("streaming", "llm", "similarity"),
)
def streaming_ann_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF ingestion + probe: the index grows micro-batch by
    micro-batch against frozen coarse centroids (batch_id/list_id
    partitioned, replay-idempotent via dynamic overwrite), and the probe
    partition-prunes to the 3 nearest lists per query over EVERYTHING
    ingested; every cosine and rank hash-matches the oracle's SQL
    replay of the same IVF."""
    import tempfile

    from ..streaming.llm import (
        ann_probe_ingested,
        make_ann_ingest_batch_processor,
        streaming_ann_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < _ANN_INGEST_SEEDS)
        .orderBy("vec_id")
        .collect()
    ]
    stage = tempfile.mkdtemp(prefix="tuktu_ann_replay_")
    index_dir = tempfile.mkdtemp(prefix="tuktu_ann_index_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_ann_ckpt_")
    stream = STR.replay_dataframe(emb, stage, chunks=4, order_col="vec_id")
    q = streaming_ann_ingest(stream, index_dir, ckpt, centroids)
    q.processAllAvailable()
    q.stop()
    # idempotency: re-running batch 0 with its own rows must not grow
    n = spark.read.parquet(index_dir).count()
    b0 = spark.read.parquet(index_dir).filter(F.col("batch_id") == 0)
    proc = make_ann_ingest_batch_processor(spark, index_dir, centroids)
    proc(
        emb.join(b0.select(F.col("neighbor_id").alias("vec_id")), "vec_id"), 0
    )
    assert spark.read.parquet(index_dir).count() == n
    queries = emb.filter(F.col("vec_id") < _ANN_INGEST_QUERIES)
    return ann_probe_ingested(
        spark, index_dir, queries, centroids, k=5, n_probe=3
    )


@query(
    "streaming_ann_compact_replay",
    oracle=_ANN_INGEST_ORACLE,
    tags=("streaming", "llm", "similarity"),
)
def streaming_ann_compact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF ingestion + COMPACTION + probe (r8): after the same
    micro-batch ingestion as streaming_ann_ingest_replay, all committed
    batches fold into the single compacted partition (the small-files
    fix for long-running streams) — and the probe over the compacted
    layout hash-matches the SAME oracle as the uncompacted index, which
    is exactly the operator's contract: fewer files, identical
    results."""
    import os
    import tempfile

    from ..streaming.llm import (
        ann_probe_ingested,
        compact_ann_index,
        streaming_ann_ingest,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < _ANN_INGEST_SEEDS)
        .orderBy("vec_id")
        .collect()
    ]
    stage = tempfile.mkdtemp(prefix="tuktu_annc_replay_")
    index_dir = tempfile.mkdtemp(prefix="tuktu_annc_index_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_annc_ckpt_")
    stream = STR.replay_dataframe(emb, stage, chunks=4, order_col="vec_id")
    q = streaming_ann_ingest(stream, index_dir, ckpt, centroids)
    q.processAllAvailable()
    q.stop()

    def n_parquet_files() -> int:
        return sum(
            1
            for _r, _d, fs in os.walk(index_dir)
            for f in fs
            if f.endswith(".parquet")
        )

    before = n_parquet_files()
    stats = compact_ann_index(spark, index_dir)
    assert stats["folded_batches"], stats  # the replay produced >= 2 batches
    assert n_parquet_files() < before, (before, n_parquet_files())
    queries = emb.filter(F.col("vec_id") < _ANN_INGEST_QUERIES)
    return ann_probe_ingested(
        spark, index_dir, queries, centroids, k=5, n_probe=3
    )


# First-seen-by-content truth for the exact-dedup stream: chunks replay in
# doc_id order, so the canonical survivor of every distinct text is the
# global min doc_id — DuckDB recomputes it from scratch.
_EXACT_DEDUP_COMPACT_ORACLE = """
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
FROM documents GROUP BY md5(text)
"""


@query(
    "streaming_dedup_compact_replay",
    oracle=_EXACT_DEDUP_COMPACT_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_dedup_compact_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup + STORE COMPACTION (r9, verdict #3): documents
    replay through the foreachBatch content-hash store in 4 micro-batches,
    then BOTH batch_id-partitioned directories (the kept-docs output and
    the md5 hash store) fold into single compacted partitions via the
    generalized compact_batch_store — the small-files fix the ANN index
    got in r8, now covering the dedup-store layout. After compaction:
    (a) one more batch of pure clones ingests against the COMPACTED hash
    store and is fully rejected, proving continued-ingestion correctness,
    and (b) the surviving doc_ids hash-match the batch first-seen-by-md5
    truth the oracle recomputes — fewer files, identical results."""
    import os

    from ..streaming.llm import (
        compact_batch_store,
        make_exact_dedup_batch_processor,
        streaming_exact_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stage = tempfile.mkdtemp(prefix="tuktu_dedupc_replay_")
    store = tempfile.mkdtemp(prefix="tuktu_dedupc_store_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_dedupc_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_dedupc_ckpt_")
    hash_store = os.path.join(store, "content_md5")
    stream = STR.replay_dataframe(docs, stage, chunks=4, order_col="doc_id")
    q = streaming_exact_dedup(stream, store, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()

    def n_parquet_files() -> int:
        return sum(
            1
            for d in (out_dir, hash_store)
            for _r, _dd, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    before = n_parquet_files()
    s_out = compact_batch_store(spark, out_dir, target_files=1)
    s_hash = compact_batch_store(spark, hash_store, target_files=1)
    assert s_out["folded_batches"] and s_hash["folded_batches"], (s_out, s_hash)
    assert n_parquet_files() < before, (before, n_parquet_files())
    # continued ingestion against the compacted store: clones of already
    # kept content (shifted ids) must all be rejected
    proc = make_exact_dedup_batch_processor(spark, store, out_dir)
    proc(
        docs.limit(20).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        ),
        99,
    )
    return spark.read.parquet(out_dir).select("doc_id")


# Decontamination through the REAL streaming path (r10): the eval suite's
# artifacts (distinct gram-hash table + Bloom bitmap) are built ONCE, the
# documents replay in 3 micro-batches through the foreachBatch reporter,
# and the union of per-batch reports must equal the batch
# contamination_report the oracle replays (a doc's grams all live in its
# own batch). The Bloom is deliberately undersized (2^12, k=3 — same
# configuration dedup_decontaminate_bloom pins) so the FP-kill path is
# always exercised in-stream too.
from .llm_dedup import _DECON_ORACLE  # noqa: E402


@query(
    "streaming_decontaminate_replay",
    oracle=_DECON_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_decontaminate_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch contamination reports against FROZEN eval artifacts
    (write_eval_gram_table + build_gram_bloom/save_gram_bloom built once,
    reused every batch — the daily-crawl shape): the report store's
    union must hash-match the whole-corpus broadcast report."""
    import os

    from ..llm.decontaminate import (
        build_gram_bloom,
        load_gram_bloom,
        save_gram_bloom,
        write_eval_gram_table,
    )
    from ..streaming.llm import streaming_decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    art = tempfile.mkdtemp(prefix="tuktu_decon_art_")
    grams_dir = os.path.join(art, "eval_grams")
    bloom_path = os.path.join(art, "gram_bloom.npz")
    write_eval_gram_table(eval_set, grams_dir, n=13)
    save_gram_bloom(
        build_gram_bloom(eval_set, n=13, n_bits=1 << 12, k=3),
        bloom_path, k=3, n=13,
    )
    bloom, k = load_gram_bloom(bloom_path, expect_n=13, expect_normalize=False)
    stage = tempfile.mkdtemp(prefix="tuktu_decon_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_decon_report_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_decon_ckpt_")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_decontaminate(
        stream, grams_dir, out_dir, ckpt, bloom=bloom, bloom_k=k, n=13
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir).select("doc_id", "n_matched_grams")


# The surgical streaming form (r10): per-batch contaminated-SPAN rewrite
# against the stored eval gram table. A doc's windows all live in its own
# batch, so the union of per-batch rewrites equals the batch
# decontaminate_spans over the whole corpus — the oracle replays that
# token-by-token.
from .llm_dedup import _DECON_SPANS_ORACLE  # noqa: E402


@query(
    "streaming_decontaminate_spans_replay",
    oracle=_DECON_SPANS_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_decontaminate_spans_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch contaminated-span rewrites against a FROZEN eval gram
    table (write_eval_gram_table built once): the rewritten-store union
    must hash-match the whole-corpus batch decontaminate_spans truth."""
    import os

    from ..llm.decontaminate import write_eval_gram_table
    from ..streaming.llm import streaming_decontaminate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    art = tempfile.mkdtemp(prefix="tuktu_deconsp_art_")
    grams_dir = os.path.join(art, "eval_grams")
    write_eval_gram_table(eval_set, grams_dir, n=13)
    stage = tempfile.mkdtemp(prefix="tuktu_deconsp_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_deconsp_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_deconsp_ckpt_")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_decontaminate_spans(stream, grams_dir, out_dir, ckpt, n=13)
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir).select("doc_id", "text")


from .llm_dedup import _DECON_SPANS_NORM_ORACLE  # noqa: E402


@query(
    "streaming_decontaminate_spans_normalized_replay",
    oracle=_DECON_SPANS_NORM_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_decontaminate_spans_normalized_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r11: the streaming span rewrite with normalize=True — the
    case/punctuation-PERTURBED corpus (odd ids uppercased, ' ' -> ', ',
    the dedup_decontaminate_spans_normalized shape) replays in three
    micro-batches against a FROZEN normalize=True gram table; the
    rewritten-store union must hash-match the same token-exact oracle
    that re-perturbs the kept tokens."""
    import os

    from ..llm.decontaminate import write_eval_gram_table
    from ..streaming.llm import streaming_decontaminate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.upper(F.regexp_replace("text", " ", ", ")),
        ).otherwise(F.col("text")),
    )
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    art = tempfile.mkdtemp(prefix="tuktu_deconspn_art_")
    grams_dir = os.path.join(art, "eval_grams")
    write_eval_gram_table(eval_set, grams_dir, n=13, normalize=True)
    stage = tempfile.mkdtemp(prefix="tuktu_deconspn_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_deconspn_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_deconspn_ckpt_")
    stream = STR.replay_dataframe(
        perturbed, stage, chunks=3, order_col="doc_id"
    )
    q = streaming_decontaminate_spans(
        stream, grams_dir, out_dir, ckpt, n=13, normalize=True
    )
    q.processAllAvailable()
    q.stop()
    return spark.read.parquet(out_dir).select("doc_id", "text")


from .llm_dedup import _DECON_POLICY_ORACLE  # noqa: E402


@query(
    "streaming_decontaminate_policy_replay",
    oracle=_DECON_POLICY_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_decontaminate_policy_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r12 (r11 verdict #4): the max_frac threshold POLICY in the
    stream — docs more than half contaminated drop whole, the rest are
    span-cut — replayed in three micro-batches against a FROZEN gram
    table. A doc's grams and token count live wholly in its own batch,
    so the store union must hash-match the SAME oracle as the batch
    policy query dedup_decontaminate_policy (intervals + fraction
    filter + token rewrite, replayed token-exactly). Also exercises the
    query-attached ``unpersist_eval`` release hook (r11 advice)."""
    import os

    from ..llm.decontaminate import write_eval_gram_table
    from ..streaming.llm import streaming_decontaminate_spans_policy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select("text")
    art = tempfile.mkdtemp(prefix="tuktu_deconpol_art_")
    grams_dir = os.path.join(art, "eval_grams")
    write_eval_gram_table(eval_set, grams_dir, n=13)
    stage = tempfile.mkdtemp(prefix="tuktu_deconpol_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_deconpol_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_deconpol_ckpt_")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_decontaminate_spans_policy(
        stream, grams_dir, out_dir, ckpt, max_frac=0.5, n=13
    )
    q.processAllAvailable()
    q.stop()
    q.unpersist_eval()
    return spark.read.parquet(out_dir).select("doc_id", "text")


from .llm_dedup import _DECON_ATTR_ORACLE  # noqa: E402


@query(
    "streaming_attribution_replay",
    oracle=_DECON_ATTR_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r13 (r12 verdict #2): per-(doc, eval) contamination ATTRIBUTION
    through the REAL streaming path — the ATTRIBUTED gram table
    (write_eval_gram_table(eval_id='eval_id'), distinct (eval_id, gram)
    rows) is frozen once, the documents replay in 3 micro-batches
    through the foreachBatch attribution processor, and the store union
    must hash-match the SAME DuckDB oracle as the batch
    dedup_decontaminate_attribution query (a doc's grams live wholly in
    its own batch, so per-batch attribution composes exactly). Also
    exercises the query-attached ``unpersist_eval`` release hook."""
    import os

    from ..llm.decontaminate import write_eval_gram_table
    from ..streaming.llm import streaming_attribution

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    art = tempfile.mkdtemp(prefix="tuktu_deconattr_art_")
    grams_dir = os.path.join(art, "eval_grams")
    write_eval_gram_table(eval_set, grams_dir, n=13, eval_id="eval_id")
    stage = tempfile.mkdtemp(prefix="tuktu_deconattr_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_deconattr_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_deconattr_ckpt_")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_attribution(stream, grams_dir, out_dir, ckpt, n=13)
    q.processAllAvailable()
    q.stop()
    q.unpersist_eval()
    return spark.read.parquet(out_dir).select(
        "doc_id", "eval_id", "n_shared_grams"
    )


from .llm_dedup import _DECON_OVERLAP_ORACLE  # noqa: E402


@query(
    "streaming_overlap_summary_replay",
    oracle=_DECON_OVERLAP_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_overlap_summary_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r13: the per-suite overlap table folded from a LIVE attribution
    store — the read-side dashboard fold over an always-on
    decontamination monitor. The ATTRIBUTED gram table is frozen at
    SUITE granularity (eval_id = lang), the documents replay in 3
    micro-batches through the attribution processor, and
    attribution_store_summary over the accumulated store must
    hash-match the SAME DuckDB oracle as the BATCH
    dedup_decontaminate_overlap_summary query: a doc's grams live
    wholly in its own batch, so the store holds each (doc, suite) row
    exactly once with its full count and the store fold equals the
    batch summary."""
    import os

    from ..llm.decontaminate import write_eval_gram_table
    from ..streaming.llm import attribution_store_summary, streaming_attribution

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 17 == 0)
        .select(F.col("lang").alias("suite"), "text")
    )
    art = tempfile.mkdtemp(prefix="tuktu_deconsum_art_")
    grams_dir = os.path.join(art, "eval_grams")
    write_eval_gram_table(eval_set, grams_dir, n=13, eval_id="suite")
    stage = tempfile.mkdtemp(prefix="tuktu_deconsum_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_deconsum_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_deconsum_ckpt_")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_attribution(stream, grams_dir, out_dir, ckpt, n=13)
    q.processAllAvailable()
    q.stop()
    q.unpersist_eval()
    return attribution_store_summary(spark, out_dir, eval_id_col="suite")


from .llm_dedup import _DECON_FUZZY_ORACLE  # noqa: E402


@query(
    "streaming_fuzzy_decontaminate_replay",
    oracle=_DECON_FUZZY_ORACLE,
    tags=("streaming", "llm", "dedup"),
)
def streaming_fuzzy_decontaminate_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r13: FUZZY (MinHash-LSH near-dup) decontamination through the
    REAL streaming path — the frozen (eval_id, shingles, signature)
    artifact (write_eval_fuzzy_table) is built once, the documents
    replay in 3 micro-batches through the foreachBatch fuzzy processor,
    and the store union must hash-match the SAME exact-Jaccard DuckDB
    oracle as the batch dedup_decontaminate_fuzzy query (a doc's
    shingles live wholly in its own batch; banding + exact verify are
    pure functions of the text, so per-batch pairs compose exactly).
    Also exercises the query-attached ``unpersist_eval`` release
    hook."""
    import os

    from ..llm.decontaminate import write_eval_fuzzy_table
    from ..streaming.llm import streaming_fuzzy_decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_set = docs.filter(F.col("doc_id") % 17 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    art = tempfile.mkdtemp(prefix="tuktu_fuzzy_art_")
    fuzzy_dir = os.path.join(art, "eval_fuzzy")
    write_eval_fuzzy_table(eval_set, fuzzy_dir, n=3)
    stage = tempfile.mkdtemp(prefix="tuktu_fuzzy_replay_")
    out_dir = tempfile.mkdtemp(prefix="tuktu_fuzzy_out_")
    ckpt = tempfile.mkdtemp(prefix="tuktu_fuzzy_ckpt_")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_fuzzy_decontaminate(
        stream, fuzzy_dir, out_dir, ckpt, threshold=0.8, n=3
    )
    q.processAllAvailable()
    q.stop()
    q.unpersist_eval()
    return spark.read.parquet(out_dir).select("doc_id", "eval_id", "jaccard")
