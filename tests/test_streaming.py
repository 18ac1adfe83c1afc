"""Structured Streaming tests: replay the events table through the real
streaming code path (file-stream micro-batches) and check results against
batch-computed truth — the streaming analogue of BaseFlowTester."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tuktu_spark import streaming as STR
from tuktu_spark.tables import load_table


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


@pytest.fixture()
def event_stream(spark, events, tmp_path):
    return STR.replay_dataframe(events, str(tmp_path), chunks=4, order_col="ts")


def run_to_table(spark, sdf, output_mode="append"):
    q, name = STR.memory_sink(sdf, output_mode=output_mode)
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_tumbling_window_matches_batch(spark, events, event_stream):
    aggs = {"n": F.count(F.lit(1)), "v": F.sum("value")}
    # update mode: every window's latest update reaches the sink even when
    # the stream ends before the watermark closes it (append would withhold
    # trailing windows — correct SS semantics, inconvenient for replay).
    out = run_to_table(
        spark,
        STR.tumbling_window_agg(event_stream, "ts", "1 hour", aggs, watermark="1 hour"),
        output_mode="update",
    )
    final = out.groupBy("window_start").agg(F.max("n").alias("n"))
    batch = (
        events.groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r["window_start"]: r["n"] for r in final.collect()}
    want = {r["window"]["start"]: r["n"] for r in batch}
    assert got == want


def test_sliding_and_session_windows_run(spark, event_stream):
    out = run_to_table(
        spark,
        STR.sliding_window_agg(
            event_stream, "ts", "2 hours", "1 hour", {"n": F.count(F.lit(1))}
        ),
    )
    assert out.count() > 0
    sess = run_to_table(
        spark,
        STR.session_window_agg(
            event_stream.filter(F.col("user_id") < 5),
            "ts",
            "30 minutes",
            {"n": F.count(F.lit(1))},
            keys=["user_id"],
        ),
    )
    assert sess.count() > 0


def test_streaming_dedup(spark, events, event_stream, tmp_path):
    # duplicate the stream by unioning it with itself: dedup must halve it
    doubled = event_stream.unionByName(event_stream)
    out = run_to_table(
        spark, STR.streaming_dedup(doubled, ["event_id"], ts_col="ts", watermark="2 hours")
    )
    assert out.count() == events.count()


def test_running_count_stateful(spark, event_stream, events):
    out = run_to_table(
        spark,
        STR.running_count_stateful(
            event_stream.select(F.col("user_id").cast("string"), "event_id"),
            ["user_id"],
        ),
        output_mode="update",
    )
    # final per-key total across micro-batch updates == batch count
    finals = (
        out.groupBy("user_id").agg(F.max("total").alias("total")).collect()
    )
    truth = {
        str(r["user_id"]): r["n"]
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["user_id"]: r["total"] for r in finals}
    assert got == truth


def test_stream_static_join(spark, event_stream, sf_dir):
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = run_to_table(
        spark, STR.stream_static_join(event_stream, customers, ["user_id"])
    )
    assert out.count() > 0
    assert "c_mktsegment" in out.columns


def test_stream_stream_join(spark, events, tmp_path):
    left = STR.replay_dataframe(
        events.select("event_id", "ts", "user_id"), str(tmp_path / "l"), chunks=2
    )
    right = STR.replay_dataframe(
        events.select(
            F.col("event_id").alias("eid"), F.col("ts").alias("rts"), "value"
        ),
        str(tmp_path / "r"),
        chunks=2,
    )
    joined = STR.stream_stream_join(
        left,
        right.withColumnRenamed("eid", "event_id"),
        ["event_id"],
        "ts",
        "rts",
        watermark="2 hours",
    )
    out = run_to_table(spark, joined)
    assert out.count() == events.count()


def test_foreach_batch_sink(spark, events, event_stream, tmp_path):
    seen: list[int] = []

    def collect_counts(batch_df, batch_id: int):
        seen.append(batch_df.count())

    q = STR.foreach_batch_sink(
        event_stream, collect_counts, checkpoint=str(tmp_path / "ckpt")
    )
    q.processAllAvailable()
    q.stop()
    assert sum(seen) == events.count() and len(seen) >= 2  # several micro-batches


# ---------------------------------------------------------------------------
# Checkpoint file manager (session.local_checkpoint_conf)


def test_session_resolves_filesystem_checkpoint_manager(spark, tmp_path):
    """The manager Spark builds for a checkpoint path on the test session
    (the bare one; the state store wraps it in its checksum manager)."""
    from tuktu_spark.session import LOCAL_CHECKPOINT_MANAGER

    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert mgr.getClass().getName() == LOCAL_CHECKPOINT_MANAGER


@pytest.mark.parametrize(
    "default_fs, conf, local",
    [
        ("file:///", {}, True),
        ("file:/", {}, True),
        # an explicit caller value is kept, whatever the FS
        ("file:///", {"spark.sql.streaming.checkpointFileManagerClass": "my.Manager"}, False),
        ("hdfs://nn:8020", {}, False),
        ("s3a://bucket", {}, False),
    ],
)
def test_local_checkpoint_conf_rule(default_fs, conf, local):
    from tuktu_spark.session import (
        CHECKPOINT_MANAGER_KEY,
        LOCAL_CHECKPOINT_MANAGER,
        local_checkpoint_conf,
    )

    want = {CHECKPOINT_MANAGER_KEY: LOCAL_CHECKPOINT_MANAGER} if local else {}
    assert local_checkpoint_conf(default_fs, conf) == want


def test_ensure_session_confs_applies_rule_to_other_sessions(spark):
    """A session built elsewhere gets the local manager from
    ensure_session_confs, unless it already chose one."""
    from tuktu_spark.session import CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER
    from tuktu_spark.tables import ensure_session_confs

    other = spark.newSession()
    other.conf.unset(CHECKPOINT_MANAGER_KEY)
    ensure_session_confs(other)
    assert other.conf.get(CHECKPOINT_MANAGER_KEY) == LOCAL_CHECKPOINT_MANAGER
    other.conf.set(CHECKPOINT_MANAGER_KEY, "my.Manager")
    ensure_session_confs(other)
    assert other.conf.get(CHECKPOINT_MANAGER_KEY) == "my.Manager"


def test_crash_replay_keeps_state_and_totals(spark, events, tmp_path):
    """A stateful update-mode aggregate that died after logging batch 1's
    offsets but before committing it. The restart re-runs batch 1 and then
    runs a new batch; the final per-group totals are the batch truth.

    The replayed state commit asks to overwrite the existing ``.delta``
    files only "if possible" (Spark's CheckpointFileManager contract).
    The local FileSystem refuses to rename over a file, so under the
    FileSystem-based manager the first attempt's complete files stay and
    the restart builds batch 2 on them."""
    import os

    from tuktu_spark.operators import make_operator

    sdf = STR.replay_dataframe(events, str(tmp_path / "in"), chunks=3, order_col="ts")
    third = sorted((tmp_path / "in" / "replay").iterdir())[2]
    held = tmp_path / third.name
    os.rename(third, held)  # keeps its mtime, the newest of the three
    agg = make_operator(
        "aggregate_by_value",
        {"group": ["event_type"], "aggregations": {"n": "count()", "ids": "sum(${event_id})"}},
    )(sdf)
    ckpt = tmp_path / "ckpt"
    seen: list[tuple[int, dict]] = []

    def run() -> None:
        q = STR.foreach_batch_sink(
            agg, lambda df, bid: seen.extend((bid, r.asDict()) for r in df.collect()),
            checkpoint=str(ckpt),
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert {"0", "1"} <= set(os.listdir(ckpt / "commits"))
    deltas = {p: os.stat(p).st_ino for p in (ckpt / "state").rglob("2.delta")}
    assert deltas  # batch 1 committed state version 2
    first = sorted((r for bid, r in seen if bid == 1), key=lambda r: r["event_type"])
    for name in ("1", ".1.crc"):  # the crash: batch 1 never committed
        (ckpt / "commits" / name).unlink(missing_ok=True)
    os.rename(held, third)
    seen.clear()
    run()

    assert sorted({bid for bid, _ in seen}) == [1, 2]
    assert sorted((r for bid, r in seen if bid == 1), key=lambda r: r["event_type"]) == first
    assert {p: os.stat(p).st_ino for p in deltas} == deltas
    final = {r["event_type"]: (r["n"], r["ids"]) for _, r in sorted(seen, key=lambda x: x[0])}
    truth = events.toPandas().groupby("event_type")["event_id"].agg(["count", "sum"])
    assert final == {k: (int(c), int(t)) for k, (c, t) in truth.iterrows()}


def test_rate_source_shape(spark):
    df = STR.rate_source(spark, rows_per_second=5, constant={"tag": "x"})
    assert df.isStreaming and set(df.columns) == {"timestamp", "value", "tag"}


def test_streaming_minhash_candidates_equal_batch(spark, sf_dir, tmp_path):
    """Incremental LSH over a 4-chunk replay must discover EXACTLY the
    batch candidate pair set — banding is deterministic and
    order-independent."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm import dedup as D
    from tuktu_spark.streaming.llm import streaming_minhash_candidates
    from tuktu_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stream = STR.replay_dataframe(docs, str(tmp_path / "replay"), chunks=4, order_col="doc_id")
    q = streaming_minhash_candidates(
        stream,
        store_dir=str(tmp_path / "store"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    sigs = D.minhash_signatures(docs)
    want = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_candidates(sigs).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_exact_dedup_equals_batch(spark, sf_dir, tmp_path):
    """First-seen contents across a 4-chunk replay == batch exact dedup
    canonical set; replays are no-ops."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.dedup import exact_dedup
    from tuktu_spark.streaming.llm import (
        make_exact_dedup_batch_processor,
        streaming_exact_dedup,
    )
    from tuktu_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # plant cross-chunk duplicates: clone 10 docs with shifted ids
    clones = docs.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(clones)
    stream = STR.replay_dataframe(
        corpus, str(tmp_path / "replay"), chunks=4, order_col="doc_id"
    )
    q = streaming_exact_dedup(
        stream,
        store_dir=str(tmp_path / "store"),
        out_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    want = {
        r["canonical_id"] for r in exact_dedup(corpus).collect()
    }
    assert got == want
    # replay idempotency: re-running batch 0 changes nothing
    n_before = spark.read.parquet(str(tmp_path / "out")).count()
    proc = make_exact_dedup_batch_processor(
        spark, str(tmp_path / "store"), str(tmp_path / "out")
    )
    proc(corpus.limit(5), 0)
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_before


def test_streaming_paragraph_dedup_equals_batch(spark, tmp_path):
    """Round-6 verdict #7: an id-ordered replay paragraph-dedupes exactly
    like the batch rebuild, and replays are no-ops."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.dedup import paragraph_dedup_rebuild
    from tuktu_spark.streaming.llm import (
        make_paragraph_dedup_batch_processor,
        streaming_paragraph_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta\n\nshared block\n\ngamma"),
         (2, "shared block\n\ndelta"),
         (3, "delta\n\nshared block\n\nepsilon"),
         (4, "zeta\n\nalpha beta"),
         (5, "shared block"),
         (6, "eta\n\ntheta\n\neta")],
        "doc_id long, text string",
    )
    stream = STR.replay_dataframe(
        corpus, str(tmp_path / "replay"), chunks=3, order_col="doc_id"
    )
    q = streaming_paragraph_dedup(
        stream,
        store_dir=str(tmp_path / "store"),
        out_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    got = {(r["doc_id"], r["text"])
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    want = {(r["doc_id"], r["text"])
            for r in paragraph_dedup_rebuild(corpus).collect()}
    assert got == want and len(want) > 0

    # idempotent replay: re-running batch 0 changes nothing
    n_before = spark.read.parquet(str(tmp_path / "out")).count()
    proc = make_paragraph_dedup_batch_processor(
        spark, str(tmp_path / "store"), str(tmp_path / "out")
    )
    proc(corpus.limit(2), 0)
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_before


def test_streaming_media_dedup_equals_batch(spark, tmp_path):
    """Perceptual media dedup at ingest: an id-ordered replay keeps
    exactly the batch first-seen-signature set, and replays are no-ops."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tuktu_spark.llm import multimodal as MM
    from tuktu_spark.streaming.llm import (
        make_media_dedup_batch_processor,
        streaming_media_dedup,
    )

    # ids 1/4 and 2/5 carry IDENTICAL images (cross-chunk duplicates)
    def synth(ids):
        def mk(i):
            key = int(i) % 3
            # dHash is brightness-shift invariant and horizontal-only:
            # distinct images need distinct HORIZONTAL gradient behavior
            # (direction flip / mod-256 wrap), not just seeds or dy
            dx = [3, 253, 101][key]
            return MM.make_png(6, 5, gradient=(40 + 50 * key, dx, 7))

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    corpus = spark.createDataFrame(
        [(i,) for i in range(1, 7)], "doc_id long"
    ).select("doc_id", pandas_udf("binary")(synth)(F.col("doc_id")).alias("media"))

    stream = STR.replay_dataframe(
        corpus, str(tmp_path / "replay"), chunks=3, order_col="doc_id"
    )
    q = streaming_media_dedup(
        stream,
        store_dir=str(tmp_path / "store"),
        out_dir=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        kind="image",
    )
    q.processAllAvailable()
    q.stop()
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    # batch equivalent: min doc_id per distinct dHash signature
    sigs = MM.image_dhash_table(corpus, "doc_id")
    want = sorted(
        r["m"]
        for r in sigs.groupBy("dhash_hi", "dhash_lo")
        .agg(F.min("id").alias("m"))
        .collect()
    )
    assert kept == want == [1, 2, 3]

    # idempotent replay: re-running batch 0 changes nothing
    n_before = spark.read.parquet(str(tmp_path / "out")).count()
    proc = make_media_dedup_batch_processor(
        spark, str(tmp_path / "store"), str(tmp_path / "out"), kind="image"
    )
    proc(corpus.limit(4), 0)
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_before


def test_streaming_media_dedup_audio_kind(spark, tmp_path):
    """Audio kind reduces WAVs to energy-delta fingerprints; duplicate
    waveforms collapse to the first-seen clip."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tuktu_spark.llm import multimodal as MM
    from tuktu_spark.streaming.llm import make_media_dedup_batch_processor

    def synth(ids):
        def mk(i):
            key = int(i) % 2
            return MM.make_wav(n_samples=325, ramp=(5 + 2 * key, 256))

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    corpus = spark.createDataFrame(
        [(i,) for i in range(1, 5)], "doc_id long"
    ).select("doc_id", pandas_udf("binary")(synth)(F.col("doc_id")).alias("media"))

    proc = make_media_dedup_batch_processor(
        spark, str(tmp_path / "store"), str(tmp_path / "out"), kind="audio"
    )
    proc(corpus, 0)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert kept == [1, 2]


def test_streaming_scene_cuts_equals_batch(spark, tmp_path):
    """The stateful scene-cut operator over a frame_idx-ordered replay
    emits exactly the batch window's rows; state = one 24-byte triple
    per video carried across micro-batches."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tuktu_spark.llm import multimodal as MM
    from tuktu_spark.streaming.llm import streaming_scene_cuts

    def synth(ids):
        def mk(i):
            i = int(i)
            n = 6
            grads = [
                (i % 256, 3 if (t // 2) % 2 == 0 else 253, 7) for t in range(n)
            ]
            return MM.make_avi(5, 4, n, frame_gradients=grads)

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    media = spark.range(4).select(
        F.col("id").alias("doc_id"),
        pandas_udf("binary")(synth)(F.col("id")).alias("media"),
    )
    hashes = MM.video_frame_dhash_table(media, "doc_id").cache()
    want = {
        (r["id"], r["frame_idx"], r["hamming"], r["is_cut"])
        for r in MM.video_scene_cuts(hashes, threshold=8).collect()
    }

    # replay ordered by frame_idx: every video's frames are split
    # ACROSS micro-batches in order — the cross-batch state path
    stream = STR.replay_dataframe(
        hashes, str(tmp_path / "replay"), chunks=3, order_col="frame_idx"
    )
    cuts = streaming_scene_cuts(stream, threshold=8)
    q, name = STR.memory_sink(cuts, output_mode="append")
    q.processAllAvailable()
    q.stop()
    got = {
        (r["id"], r["frame_idx"], r["hamming"], r["is_cut"])
        for r in spark.table(name).collect()
    }
    assert got == want and len(want) == 20  # 4 videos x 5 deltas


def test_streaming_ann_ingest_probe_prunes_partitions(spark, sf_dir):
    """The streamed (batch_id, list_id)-partitioned index must give the
    probe LIST PRUNING: Spark plans dynamic partition pruning on list_id
    (the probed-lists subquery), so a probe never scans unprobed lists."""
    import tempfile

    from pyspark.sql import functions as F

    from tuktu_spark.streaming.llm import (
        ann_probe_ingested,
        make_ann_ingest_batch_processor,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    index_dir = tempfile.mkdtemp(prefix="ann_idx_")
    proc = make_ann_ingest_batch_processor(spark, index_dir, centroids)
    proc(emb, 0)
    proc(emb.limit(0), 1)  # empty batch: no-op
    queries = emb.filter(F.col("vec_id") < 3)
    out = ann_probe_ingested(spark, index_dir, queries, centroids, k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan or "PartitionFilters: [isnotnull(list_id" in plan
    rows = out.collect()
    assert rows and all(r["rank"] <= 3 for r in rows)
    # replay idempotency: same batch rewrites, never appends
    n = spark.read.parquet(index_dir).count()
    proc(emb, 0)
    assert spark.read.parquet(index_dir).count() == n


def test_ann_index_compaction_preserves_probes(spark, sf_dir, tmp_path):
    """r8 (verdict #7): compact_ann_index folds old batch partitions
    into one compacted partition — parquet file count drops, probe
    results hash-match exactly, the newest batch stays replayable, and
    a second compaction folds the next batch into the same label."""
    import os

    from pyspark.sql import functions as F

    from tuktu_spark.streaming.llm import (
        ann_probe_ingested,
        compact_ann_index,
        make_ann_ingest_batch_processor,
    )

    def parquet_files(d):
        return sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    index_dir = str(tmp_path / "idx")
    proc = make_ann_ingest_batch_processor(spark, index_dir, centroids)
    # 5 micro-batches of 12 vectors each
    for b in range(5):
        proc(emb.filter((F.col("vec_id") % 5) == b), b)

    queries = emb.filter(F.col("vec_id") < 3)

    def probe():
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in ann_probe_ingested(
                spark, index_dir, queries, centroids, k=4, n_probe=2
            ).collect()
        )

    before_rows = probe()
    before_files = parquet_files(index_dir)
    stats = compact_ann_index(spark, index_dir)
    assert stats["folded_batches"] == [0, 1, 2, 3]
    assert stats["kept_batches"] == [4]
    after_files = parquet_files(index_dir)
    assert len(after_files) < len(before_files), (
        len(before_files), len(after_files)
    )
    assert probe() == before_rows
    # layout: compacted label + the kept batch only
    batches = sorted(
        r["batch_id"]
        for r in spark.read.parquet(index_dir).select("batch_id").distinct().collect()
    )
    assert batches == [-1, 4]
    # the kept batch is still replay-idempotent (dynamic overwrite of
    # exactly its own partitions)
    n = spark.read.parquet(index_dir).count()
    proc(emb.filter((F.col("vec_id") % 5) == 4), 4)
    assert spark.read.parquet(index_dir).count() == n
    assert probe() == before_rows
    # a later batch + second compaction folds into the SAME label
    proc(emb.filter((F.col("vec_id") % 5) == 0).withColumn(
        "vec_id", F.col("vec_id") + 1000
    ), 5)
    with_new = probe()
    stats2 = compact_ann_index(spark, index_dir)
    assert stats2["folded_batches"] == [4]
    assert probe() == with_new


def test_ann_compaction_multiplicity_and_crash_recovery(spark, sf_dir, tmp_path):
    """r8 review fixes: (a) a row legitimately ingested in TWO different
    epochs survives compaction twice (src_batch provenance distinguishes
    it from a crash copy); (b) a crash between the compacted write and
    the source-directory delete leaves copies that a re-run removes
    EXACTLY (converges back to the true multiplicity)."""
    from pyspark.sql import functions as F

    from tuktu_spark.streaming.llm import (
        compact_ann_index,
        make_ann_ingest_batch_processor,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 30
    )
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    index_dir = str(tmp_path / "idx")
    proc = make_ann_ingest_batch_processor(spark, index_dir, centroids)
    proc(emb, 0)                                   # 30 rows
    proc(emb.filter(F.col("vec_id") < 10), 1)      # 10 LEGITIMATE dupes
    proc(emb.filter(F.col("vec_id") >= 25), 2)     # newest: 5 rows
    true_count = 45

    def count():
        return spark.read.parquet(index_dir).count()

    assert count() == true_count
    stats = compact_ann_index(spark, index_dir)
    assert stats["folded_batches"] == [0, 1]
    assert count() == true_count  # cross-epoch multiplicity PRESERVED
    compacted = spark.read.parquet(index_dir).filter(F.col("batch_id") == -1)
    assert sorted(
        r["src_batch"]
        for r in compacted.select("src_batch").distinct().collect()
    ) == [0, 1]
    # one vec duplicated across epochs: both copies present, src_batch apart
    dup = compacted.filter(F.col("neighbor_id") == 3)
    assert dup.count() == 2
    assert sorted(r["src_batch"] for r in dup.collect()) == [0, 1]

    # crash simulation: the folded batch-1 directory reappears (its write
    # predates the crashed delete) — rows now duplicated vs the compacted
    # partition, SAME src_batch
    proc(emb.filter(F.col("vec_id") < 10), 1)
    assert count() == true_count + 10
    stats2 = compact_ann_index(spark, index_dir)
    assert stats2["folded_batches"] == [1]
    assert count() == true_count  # crash copies removed, nothing else


def test_flow_streaming_ann_lifecycle(spark, sf_dir, tmp_path):
    """The streamed-ANN lifecycle as a config DAG: two ingest batches
    with IN-FLOW auto-compaction (r10: compact_every=2 on the ingest
    nodes, no explicit ann_index_compact node), then a partition-pruned
    probe — results must equal the direct-API probe over the same
    uncompacted data."""
    from pyspark.sql import functions as F

    from tuktu_spark.flow import run_flow
    from tuktu_spark.streaming.llm import (
        ann_probe_ingested,
        make_ann_ingest_batch_processor,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    # flow ingests the SAME (full) table twice as batches 0 and 1 on purpose:
    # compaction must preserve the doubled multiplicity (src_batch)
    import os

    flow_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flows", "examples", "streaming_ann_lifecycle.json",
    )
    out = run_flow(
        spark, flow_path,
        params={
            "dir": sf_dir,
            "index_dir": str(tmp_path / "flowidx"),
            "centroids": centroids,
        },
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in out["probe"].collect()
    )
    # reference: direct API over an identically-built index
    ref_dir = str(tmp_path / "refidx")
    proc = make_ann_ingest_batch_processor(spark, ref_dir, centroids)
    proc(emb, 0)
    proc(emb, 1)
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ann_probe_ingested(
            spark, ref_dir, emb.filter(F.col("vec_id") < 3), centroids,
            k=4, n_probe=2,
        ).collect()
    )
    assert got == want and got
    # the flow's index really is compacted: batches folded to [-1, 1]
    batches = sorted(
        r["batch_id"]
        for r in spark.read.parquet(str(tmp_path / "flowidx"))
        .select("batch_id").distinct().collect()
    )
    assert batches == [-1, 1]


def test_ann_probe_built_before_compaction_survives(spark, sf_dir, tmp_path):
    """r8 review: a probe DataFrame compiled BEFORE compaction holds an
    eager file listing of the old batch layout; compact_ann_index must
    refresh the path so that plan re-lists at its next action instead of
    dying on the deleted directories — and, rows being preserved, the
    late collect matches the pre-compaction result."""
    from pyspark.sql import functions as F

    from tuktu_spark.streaming.llm import (
        ann_probe_ingested,
        compact_ann_index,
        make_ann_ingest_batch_processor,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 40
    )
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    index_dir = str(tmp_path / "idx")
    proc = make_ann_ingest_batch_processor(spark, index_dir, centroids)
    for b in range(3):
        proc(emb.filter((F.col("vec_id") % 3) == b), b)
    queries = emb.filter(F.col("vec_id") < 3)
    probe_df = ann_probe_ingested(
        spark, index_dir, queries, centroids, k=4, n_probe=2
    )
    before = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in probe_df.collect()
    )
    stats = compact_ann_index(spark, index_dir)
    assert stats["folded_batches"] == [0, 1]
    # the SAME pre-built plan, collected after the fold deleted its files
    after = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in probe_df.collect()
    )
    assert after == before


def _parquet_files(d):
    import os

    return sum(
        1 for _r, _dd, fs in os.walk(d) for f in fs if f.endswith(".parquet")
    )


def test_generic_compaction_exact_dedup_store(spark, sf_dir, tmp_path):
    """r9 (verdict #3): compact_batch_store generalizes the ANN fold to
    the batch_id-only stores. For the exact-dedup store + output:
    (a) content is preserved verbatim, (b) parquet file count drops,
    (c) ingestion CONTINUES correctly against the compacted hash store
    (a post-compaction duplicate is still rejected), (d) a crash between
    the compacted write and the folded-directory delete converges on
    re-run (src_batch stamped at fold time from the partition label)."""
    from pyspark.sql import functions as F

    from tuktu_spark.streaming.llm import (
        compact_batch_store,
        make_exact_dedup_batch_processor,
    )
    from tuktu_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    hash_store = str(tmp_path / "store" / "content_md5")
    proc = make_exact_dedup_batch_processor(spark, store, out)
    for b in range(3):
        proc(docs.filter((F.col("doc_id") % 3) == b), b)

    def kept_ids():
        return {
            r["doc_id"] for r in spark.read.parquet(out).collect()
        }

    def stored_hashes():
        return {
            r["content_md5"]
            for r in spark.read.option("mergeSchema", "true")
            .parquet(hash_store)
            .collect()
        }

    ids0, hashes0 = kept_ids(), stored_hashes()
    files_before = _parquet_files(out) + _parquet_files(hash_store)
    s1 = compact_batch_store(spark, out, target_files=1)
    s2 = compact_batch_store(spark, hash_store, target_files=1)
    assert s1["folded_batches"] == [0, 1] and s2["folded_batches"] == [0, 1]
    # (a) store equality
    assert kept_ids() == ids0 and stored_hashes() == hashes0
    # (b) file-count reduction
    assert _parquet_files(out) + _parquet_files(hash_store) < files_before
    # (c) continued ingestion: clones of already-kept docs are rejected
    clones = docs.limit(10).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    proc(clones, 7)
    assert kept_ids() == ids0
    # ... and genuinely new content still enters
    novel = spark.createDataFrame(
        [(900001, "r9 novel content that exists nowhere else")],
        "doc_id long, text string",
    )
    proc(novel, 8)
    assert kept_ids() == ids0 | {900001}

    # (d) crash simulation: the folded batch-0 directory "reappears"
    # (compacted write survived, delete crashed) — rows duplicated vs the
    # compacted partition with the SAME fold-time src_batch provenance
    compacted = (
        spark.read.option("mergeSchema", "true")
        .parquet(hash_store)
        .filter((F.col("batch_id") == -1) & (F.col("src_batch") == 0))
    )
    n_total = spark.read.parquet(hash_store).count()
    n_dup = compacted.count()
    assert n_dup > 0
    (
        compacted.withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .options(partitionOverwriteMode="dynamic")
        .partitionBy("batch_id")
        .parquet(hash_store)
    )
    assert spark.read.parquet(hash_store).count() == n_total + n_dup
    compact_batch_store(spark, hash_store, target_files=1)
    assert spark.read.parquet(hash_store).count() == n_total
    import hashlib

    novel_md5 = hashlib.md5(
        b"r9 novel content that exists nowhere else"
    ).hexdigest()
    assert stored_hashes() == hashes0 | {novel_md5}


def test_generic_compaction_minhash_store(spark, sf_dir, tmp_path):
    """r9 (verdict #3): compacting the MinHash signature store + pairs
    output preserves the candidate pair set exactly, and a later batch
    still band-joins against the COMPACTED signatures (cross-batch pairs
    keep being discovered after the fold)."""
    from pyspark.sql import functions as F

    from tuktu_spark.streaming.llm import (
        compact_batch_store,
        make_minhash_batch_processor,
    )
    from tuktu_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store, pairs = str(tmp_path / "store"), str(tmp_path / "pairs")
    sig_store = str(tmp_path / "store" / "signatures")
    proc = make_minhash_batch_processor(spark, store, pairs)
    for b in range(3):
        proc(docs.filter((F.col("doc_id") % 3) == b), b)

    def pair_set():
        return {
            (r["id_a"], r["id_b"])
            for r in spark.read.option("mergeSchema", "true")
            .parquet(pairs)
            .collect()
        }

    pairs0 = pair_set()
    assert pairs0  # the corpus has near-dups by construction (TESTDATA)
    files_before = _parquet_files(sig_store)
    compact_batch_store(spark, sig_store, target_files=1)
    compact_batch_store(spark, pairs, target_files=1)
    assert pair_set() == pairs0
    assert _parquet_files(sig_store) < files_before
    # a post-compaction batch carrying an exact clone of an early doc must
    # pair with it via the COMPACTED store
    first = docs.orderBy("doc_id").limit(1).collect()[0]
    clone = spark.createDataFrame(
        [(int(first["doc_id"]) + 700000, first["text"])],
        "doc_id long, text string",
    )
    proc(clone, 9)
    new_pairs = pair_set() - pairs0
    assert (first["doc_id"], first["doc_id"] + 700000) in new_pairs


def test_generic_compaction_dsir_score_store(spark, sf_dir, tmp_path):
    """r9 (verdict #3): the stateless score stores compact with the same
    helper — DSIR weights are preserved row-for-row (weights are exact
    BIGINT sums, so set equality is exact)."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.dsir import hashed_ngram_features, train_dsir_llr
    from tuktu_spark.streaming.llm import (
        compact_batch_store,
        make_dsir_weight_batch_processor,
    )
    from tuktu_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("tokens")
    )
    tf = hashed_ngram_features(d.filter(F.col("lang") == "en"), buckets=256)
    rf = hashed_ngram_features(d, buckets=256)
    llr = train_dsir_llr(tf, rf, buckets=256)
    out = str(tmp_path / "scores")
    proc = make_dsir_weight_batch_processor(
        spark, llr, out, buckets=256
    )
    for b in range(3):
        proc(d.filter((F.col("doc_id") % 3) == b), b)

    def weights():
        return {
            (r["doc_id"], r["logw_q"])
            for r in spark.read.option("mergeSchema", "true")
            .parquet(out)
            .select("doc_id", "logw_q")
            .collect()
        }

    w0 = weights()
    files_before = _parquet_files(out)
    stats = compact_batch_store(spark, out, target_files=1)
    assert stats["folded_batches"] == [0, 1]
    assert weights() == w0 and _parquet_files(out) < files_before


def test_batch_store_compact_operator(spark, sf_dir, tmp_path):
    """The flow-reachable wrapper (r9): batch_store_compact folds a
    batch_id-partitioned store from a config dict and passes the piped
    DataFrame through unchanged."""
    from pyspark.sql import functions as F

    from tuktu_spark.operators import make_operator

    store = str(tmp_path / "store")
    for b in range(3):
        (
            spark.range(20).select(
                (F.col("id") + b * 100).alias("v"), F.lit(b).alias("batch_id")
            )
            .write.mode("overwrite")
            .options(partitionOverwriteMode="dynamic")
            .partitionBy("batch_id")
            .parquet(store)
        )
    before = {r["v"] for r in spark.read.parquet(store).collect()}
    piped = spark.range(3)
    out = make_operator(
        "batch_store_compact",
        {"store_dir": store, "target_files": 1},
    )(piped)
    assert out.count() == 3  # passthrough
    after = spark.read.option("mergeSchema", "true").parquet(store)
    assert {r["v"] for r in after.collect()} == before
    import os

    batches = {
        d for d in os.listdir(store) if d.startswith("batch_id=")
    }
    assert batches == {"batch_id=-1", "batch_id=2"}


def test_generic_compaction_paragraph_store(spark, sf_dir, tmp_path):
    """r9 (verdict #3, remaining layouts): the paragraph-dedup store +
    rebuilt-docs output compact with content preserved, fewer files, and
    continued ingestion still anti-joins correctly against the compacted
    paragraph-md5 store."""
    import os

    from pyspark.sql import functions as F

    from tuktu_spark.streaming.llm import (
        compact_batch_store,
        make_paragraph_dedup_batch_processor,
    )
    from tuktu_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n\n",
            F.concat(F.lit("shared boilerplate header")),
            "text",
        ).alias("text"),
    )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    hash_store = os.path.join(store, "paragraph_md5")
    proc = make_paragraph_dedup_batch_processor(spark, store, out)
    for b in range(3):
        proc(docs.filter((F.col("doc_id") % 3) == b), b)

    def state():
        kept = {
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(out).drop("batch_id").collect()
        }
        sigs = {
            r["paragraph_md5"]
            for r in spark.read.option("mergeSchema", "true")
            .parquet(hash_store)
            .collect()
        }
        return kept, sigs

    before = state()
    n_files = _parquet_files(out) + _parquet_files(hash_store)
    s1 = compact_batch_store(spark, out, target_files=1)
    s2 = compact_batch_store(spark, hash_store, target_files=1)
    assert s1["folded_batches"] == [0, 1] and s2["folded_batches"] == [0, 1]
    assert state() == before
    assert _parquet_files(out) + _parquet_files(hash_store) < n_files
    # continued ingestion: a batch of already-seen paragraphs vanishes
    proc(
        docs.limit(10).select(
            (F.col("doc_id") + 700000).alias("doc_id"), "text"
        ),
        9,
    )
    assert state()[0] == before[0]


def test_generic_compaction_media_store(spark, sf_dir, tmp_path):
    """r9 (verdict #3): the perceptual media signature store compacts
    with the surviving set unchanged and post-compaction batches still
    dedup against it."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from tuktu_spark.llm import multimodal as MM
    from tuktu_spark.streaming.llm import (
        compact_batch_store,
        make_media_dedup_batch_processor,
    )
    from tuktu_spark.tables import load_table

    def synth(ids):
        def mk(i):
            i = int(i)
            return MM.make_png(
                3 + i % 9, 2 + i % 7, gradient=(i % 64, 3, 7)
            )

        return ids.map(mk)

    synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    synth_udf = pandas_udf("binary")(synth)
    corpus = load_table(spark, sf_dir, "documents").select(
        "doc_id", synth_udf(F.col("doc_id")).alias("media")
    )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    sig_store = os.path.join(store, "media_sigs")
    proc = make_media_dedup_batch_processor(spark, store, out, kind="image")
    for b in range(3):
        proc(corpus.filter((F.col("doc_id") % 3) == b), b)

    def kept():
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    ids0 = kept()
    n_files = _parquet_files(out) + _parquet_files(sig_store)
    s1 = compact_batch_store(spark, out, target_files=1)
    s2 = compact_batch_store(spark, sig_store, target_files=1)
    assert s1["folded_batches"] == [0, 1] and s2["folded_batches"] == [0, 1]
    assert kept() == ids0
    assert _parquet_files(out) + _parquet_files(sig_store) < n_files
    # clones (same pixels, new ids) are rejected against the compacted store
    proc(
        corpus.limit(10).select(
            (F.col("doc_id") + 800000).alias("doc_id"), "media"
        ),
        9,
    )
    assert kept() == ids0


def test_flow_streaming_dedup_lifecycle(spark, sf_dir, tmp_path):
    """The streamed exact-dedup lifecycle as a config DAG: two
    sequential micro-batches (even ids then odd ids) with IN-FLOW
    auto-compaction (r10: compact_every=2 on the ingest nodes, no
    explicit batch_store_compact node) — the kept set must equal the
    first-seen truth under that batch order and the layout must fold to
    the compacted partition plus the newest real batch."""
    import os

    from pyspark.sql import functions as F

    from tuktu_spark.flow import run_flow

    flow_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flows", "examples", "streaming_dedup_lifecycle.json",
    )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    run_flow(
        spark, flow_path,
        params={"dir": sf_dir, "store_dir": store, "out_dir": out},
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # first-seen truth for the even-then-odd batch order: a text with any
    # even id keeps its min even id; odd-only texts keep their min id
    want = {
        r["doc_id"]
        for r in docs.groupBy("text")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("doc_id") % 2 == 0, F.col("doc_id"))),
                F.min("doc_id"),
            ).alias("doc_id")
        )
        .collect()
    }
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == want
    for d in (out, os.path.join(store, "content_md5")):
        batches = {p for p in os.listdir(d) if p.startswith("batch_id=")}
        assert batches == {"batch_id=-1", "batch_id=1"}, (d, batches)


def test_streaming_exact_dedup_auto_compaction(spark, sf_dir, tmp_path):
    """r9: compact_every folds the stores FROM WITHIN the running stream
    (after every Nth committed batch) — final kept set identical to an
    uncompacted run, layout reduced to the compacted partition plus the
    newest batches."""
    import os

    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.streaming.llm import streaming_exact_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    want = {
        r["doc_id"]
        for r in docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).collect()
    }

    def run(compact_every):
        stage = str(tmp_path / f"stage{compact_every}")
        store = str(tmp_path / f"store{compact_every}")
        out = str(tmp_path / f"out{compact_every}")
        ckpt = str(tmp_path / f"ckpt{compact_every}")
        stream = STR.replay_dataframe(docs, stage, chunks=4, order_col="doc_id")
        q = streaming_exact_dedup(
            stream, store, out, ckpt, compact_every=compact_every
        )
        q.processAllAvailable()
        q.stop()
        kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
        batches = {
            p for p in os.listdir(out) if p.startswith("batch_id=")
        }
        return kept, batches

    kept_plain, batches_plain = run(None)
    kept_auto, batches_auto = run(2)
    assert kept_plain == kept_auto == want
    assert batches_plain == {f"batch_id={b}" for b in range(4)}
    # batches 0..3; compaction fired after batch 1 (fold 0) and after
    # batch 3 (fold -1, 1, 2) — final layout: compacted + newest real
    assert batches_auto == {"batch_id=-1", "batch_id=3"}


def test_streaming_decontaminate_matches_batch_report(spark, sf_dir, tmp_path):
    """r10: per-batch contamination reports against FROZEN eval
    artifacts (gram table + Bloom built once) — the union of batch
    reports must equal the whole-corpus broadcast contamination_report
    both WITH the Bloom prefilter (undersized, so FPs flow to the
    verify join and must die there) and WITHOUT it."""
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import (
        build_gram_bloom,
        contamination_report,
        load_gram_bloom,
        save_gram_bloom,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import streaming_decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    grams_dir = str(tmp_path / "eval_grams")
    write_eval_gram_table(ev, grams_dir, n=5)
    bp = str(tmp_path / "bloom.npz")
    save_gram_bloom(build_gram_bloom(ev, n=5, n_bits=1 << 10, k=2), bp, k=2, n=5)
    bloom, k = load_gram_bloom(bp, expect_n=5, expect_normalize=False)
    # a mismatched reader must fail loudly, not report zero contamination
    import pytest as _pytest

    with _pytest.raises(ValueError, match="disjoint hash spaces"):
        load_gram_bloom(bp, expect_n=13)
    assert k == 2 and len(bloom) * 8 == 1 << 10

    want = {
        (r["doc_id"], r["n_matched_grams"])
        for r in contamination_report(docs, ev, n=5).collect()
    }
    assert want

    for tag, blm in (("bloom", bloom), ("nobloom", None)):
        stage = str(tmp_path / f"stage_{tag}")
        out = str(tmp_path / f"out_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
        q = streaming_decontaminate(
            stream, grams_dir, out, ckpt, bloom=blm, bloom_k=k, n=5,
            compact_every=2,
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["doc_id"], r["n_matched_grams"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == want, tag
        # compact_every=2 fired after batch 1 (fold 0, keep 1); batch 2
        # then landed un-folded ((2+1)%2 != 0)
        import os

        batches = {p for p in os.listdir(out) if p.startswith("batch_id=")}
        assert batches == {"batch_id=-1", "batch_id=1", "batch_id=2"}, (
            tag, batches,
        )


def test_decontaminate_processors_cache_eval_grams_no_bloom(
    spark, sf_dir, tmp_path
):
    """r10 verdict #6 + advice: with bloom=None (the small-table regime)
    both decontamination processors CACHE the stored eval gram table at
    build — a long-running stream scans the parquet once, not per
    micro-batch — and expose an unpersist_eval hook; with a bloom the
    caller is declaring the table beyond-broadcast, so it is
    deliberately NOT pinned in memory. The report processor's verify
    join is broadcast-hinted in the no-bloom regime (the hint rides
    eval_grams into every per-batch plan), mirroring the spans
    processor."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.decontaminate import (
        build_gram_bloom,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import (
        make_decontaminate_batch_processor,
        make_decontaminate_spans_batch_processor,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    grams_dir = str(tmp_path / "eval_grams")
    write_eval_gram_table(ev, grams_dir, n=5)
    bloom = build_gram_bloom(ev, n=5, n_bits=1 << 10, k=2)

    for i, make in enumerate(
        (
            make_decontaminate_batch_processor,
            make_decontaminate_spans_batch_processor,
        )
    ):
        kw = {"n": 5}
        proc = make(spark, grams_dir, str(tmp_path / f"o{i}"), None, 2, **kw)
        cached = proc.unpersist_eval.__self__
        assert cached.is_cached, make.__name__
        # run a batch so the cache actually materializes, then release
        proc(docs.limit(20), 0)
        proc.unpersist_eval()
        assert not cached.is_cached, make.__name__

        proc_b = make(
            spark, grams_dir, str(tmp_path / f"ob{i}"), bloom, 2, **kw
        )
        assert not proc_b.unpersist_eval.__self__.is_cached, make.__name__


def test_streaming_decontaminate_spans_matches_batch(spark, sf_dir, tmp_path):
    """r10: the per-batch span REWRITE against the stored gram table —
    union of batch rewrites equals batch decontaminate_spans over the
    whole corpus, and replaying converges (store fold at compact_every)."""
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import (
        decontaminate_spans,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import streaming_decontaminate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    grams_dir = str(tmp_path / "eval_grams")
    write_eval_gram_table(ev, grams_dir, n=5)

    want = {
        (r["doc_id"], r["text"])
        for r in decontaminate_spans(docs, ev, n=5).collect()
    }
    assert want and len(want) < docs.count()  # some docs cut/dropped

    stage, out = str(tmp_path / "stage"), str(tmp_path / "out")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_decontaminate_spans(
        stream, grams_dir, out, str(tmp_path / "ckpt"), n=5, compact_every=2
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    }
    assert got == want


def test_streaming_decontaminate_spans_normalized_matches_batch(
    spark, sf_dir, tmp_path
):
    """r11: the streaming span rewrite with normalize=True — per-batch
    union over a case/punctuation-PERTURBED corpus equals the batch
    decontaminate_spans(normalize=True); a raw (normalize=False) gram
    table is rejected loudly by the metadata check instead of silently
    matching nothing."""
    import pytest
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import (
        decontaminate_spans,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import streaming_decontaminate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.upper(F.regexp_replace("text", " ", ", ")),
        ).otherwise(F.col("text")),
    )
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    grams_dir = str(tmp_path / "eval_grams_norm")
    write_eval_gram_table(ev, grams_dir, n=5, normalize=True)

    want = {
        (r["doc_id"], r["text"])
        for r in decontaminate_spans(
            perturbed, ev, n=5, normalize=True
        ).collect()
    }
    assert want and len(want) < docs.count()

    stage, out = str(tmp_path / "stage_n"), str(tmp_path / "out_n")
    stream = STR.replay_dataframe(
        perturbed, stage, chunks=3, order_col="doc_id"
    )
    q = streaming_decontaminate_spans(
        stream, grams_dir, out, str(tmp_path / "ckpt_n"), n=5,
        compact_every=2, normalize=True,
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["doc_id"], r["text"]) for r in spark.read.parquet(out).collect()
    }
    assert got == want

    # hash-space guard: a raw table read with normalize=True must fail
    raw_dir = str(tmp_path / "eval_grams_raw")
    write_eval_gram_table(ev, raw_dir, n=5)
    from tuktu_spark.streaming.llm import (
        make_decontaminate_spans_batch_processor,
    )

    with pytest.raises(ValueError, match="normalize"):
        make_decontaminate_spans_batch_processor(
            spark, raw_dir, str(tmp_path / "o"), None, 2, n=5,
            normalize=True,
        )


def test_gram_bloom_artifact_rejects_garbage(tmp_path):
    import numpy as np
    import pytest

    from tuktu_spark.llm.decontaminate import load_gram_bloom

    p = str(tmp_path / "junk.npz")
    np.savez(p, something=np.zeros(3))
    with pytest.raises(ValueError, match="invalid"):
        load_gram_bloom(p)


def test_auto_compacting_skip_is_narrow(spark, tmp_path):
    """r10 (advisor), widened r11: BOTH empty-store shapes are skipped —
    a directory that does not exist yet AND a directory a zero-row
    partitionBy write created with only a _SUCCESS marker (the normal
    case for a clean batch's contamination report / a no-pairs dedup
    batch; the r10 bare-existence pre-check passed it through to
    spark.read.parquet, which crashed the stream with
    UNABLE_TO_INFER_SCHEMA). A genuinely failing compaction — a store
    that HAS a batch_id partition but unreadable contents — must still
    PROPAGATE and fail the stream, not silently disable small-files
    maintenance for the stream's lifetime the way the pre-r10 blanket
    AnalysisException handler did."""
    import pytest

    from tuktu_spark.streaming.llm import auto_compacting

    seen = []
    batch = spark.range(1)

    missing = str(tmp_path / "never_written")
    wrapped = auto_compacting(
        lambda df, bid: seen.append(bid), spark, [(missing, ())],
        compact_every=1,
    )
    wrapped(batch, 0)  # skip, no raise
    assert seen == [0]

    # zero-row partitionBy write: directory exists, no batch_id=* dirs
    empty_store = str(tmp_path / "empty_store")
    (
        spark.range(1)
        .filter("id < 0")
        .withColumn("batch_id", F.lit(0))
        .write.partitionBy("batch_id")
        .parquet(empty_store)
    )
    wrapped = auto_compacting(
        lambda df, bid: seen.append(bid), spark, [(empty_store, ())],
        compact_every=1,
    )
    wrapped(batch, 0)  # skip, no raise (r11: was UNABLE_TO_INFER_SCHEMA)
    assert seen == [0, 0]

    bad = tmp_path / "bad_store"
    (bad / "batch_id=0").mkdir(parents=True)
    (bad / "batch_id=0" / "junk.parquet").write_text("not parquet")
    wrapped = auto_compacting(
        lambda df, bid: seen.append(bid), spark, [(str(bad), ())],
        compact_every=1,
    )
    with pytest.raises(Exception, match="(?i)parquet|schema|PATH"):
        wrapped(batch, 0)
    assert seen == [0, 0, 0]  # the batch itself still committed first


def test_auto_compacting_compacts_after_first_real_batch(spark, tmp_path):
    """The empty-shape skip must not LATCH: once a real batch lands
    batch_id partitions, the next tick compacts them."""
    from tuktu_spark.streaming.llm import _store_has_batches, auto_compacting

    store = str(tmp_path / "store")

    def write_batch(df, bid):
        (
            df.withColumn("batch_id", F.lit(bid))
            .write.mode("overwrite")
            .options(partitionOverwriteMode="dynamic")
            .partitionBy("batch_id")
            .parquet(store)
        )

    wrapped = auto_compacting(write_batch, spark, [(store, ())], compact_every=1)
    wrapped(spark.range(1).filter("id < 0"), 0)  # empty: store has no batches
    assert not _store_has_batches(spark, store)
    for bid in (1, 2, 3):
        wrapped(spark.range(3), bid)
    assert _store_has_batches(spark, store)
    got = sorted(
        r["batch_id"]
        for r in spark.read.parquet(store).select("batch_id").distinct().collect()
    )
    assert got == [-1, 3]  # older real batches folded, newest kept


def test_save_gram_bloom_normalizes_suffix(tmp_path):
    """r10 advice: np.savez silently appends '.npz' when the path lacks
    it, so load_gram_bloom on the exact saved path FileNotFoundError'd.
    save_gram_bloom now normalizes the suffix and returns the canonical
    path; extensionless and .npz spellings land on the same artifact."""
    from tuktu_spark.llm.decontaminate import load_gram_bloom, save_gram_bloom

    bitmap = bytes([0x0F] * 16)
    bare = str(tmp_path / "bloom")
    canonical = save_gram_bloom(bitmap, bare, k=3, n=5)
    assert canonical == bare + ".npz"
    got, k = load_gram_bloom(canonical, expect_n=5, expect_normalize=False)
    assert got == bitmap and k == 3

    explicit = save_gram_bloom(bitmap, str(tmp_path / "b2.npz"), k=2, n=7)
    assert explicit.endswith("b2.npz")
    got2, k2 = load_gram_bloom(explicit, expect_n=7)
    assert got2 == bitmap and k2 == 2


def test_streaming_ann_ingest_auto_compaction_probe_equality(
    spark, sf_dir, tmp_path
):
    """ANN ingest with compact_every: probes over the auto-compacted
    index equal probes over the uncompacted one."""
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.streaming.llm import ann_probe_ingested, streaming_ann_ingest

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id") < 3)

    def run(compact_every):
        stage = str(tmp_path / f"astage{compact_every}")
        idx = str(tmp_path / f"aidx{compact_every}")
        ckpt = str(tmp_path / f"ackpt{compact_every}")
        stream = STR.replay_dataframe(emb, stage, chunks=4, order_col="vec_id")
        q = streaming_ann_ingest(
            stream, idx, ckpt, centroids, compact_every=compact_every
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in ann_probe_ingested(
                spark, idx, queries, centroids, k=5, n_probe=3
            ).collect()
        )

    assert run(2) == run(None)


def test_streaming_dsir_auto_compaction_scores_identical(spark, sf_dir, tmp_path):
    """compact_every on a SCORE store: the weight rows after in-stream
    compaction equal the uncompacted run bit-for-bit."""
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.dsir import hashed_ngram_features, train_dsir_llr
    from tuktu_spark.streaming.llm import streaming_dsir_weights

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("tokens")
    )
    B = 512
    tf = hashed_ngram_features(d.filter(F.col("lang") == "en"), buckets=B)
    rf = hashed_ngram_features(d, buckets=B)
    llr = train_dsir_llr(tf, rf, buckets=B)

    def run(compact_every):
        stage = str(tmp_path / f"ds{compact_every}")
        out = str(tmp_path / f"do{compact_every}")
        ckpt = str(tmp_path / f"dc{compact_every}")
        stream = STR.replay_dataframe(
            d.select("doc_id", "tokens"), stage, chunks=4, order_col="doc_id"
        )
        q = streaming_dsir_weights(
            stream, llr, out, ckpt, buckets=B, compact_every=compact_every
        )
        q.processAllAvailable()
        q.stop()
        return {
            (r["doc_id"], r["n_feats"], r["logw_q"])
            for r in spark.read.option("mergeSchema", "true")
            .parquet(out)
            .select("doc_id", "n_feats", "logw_q")
            .collect()
        }

    assert run(2) == run(None)


def test_streaming_decontaminate_policy_matches_batch(spark, sf_dir, tmp_path):
    """r12 (r11 verdict #4): the max_frac threshold policy in the stream —
    union of per-batch outputs equals batch decontaminate_spans_policy
    over the whole corpus (docs past the threshold dropped whole, the
    rest span-cut), in both eval regimes (no-bloom cached/broadcast,
    bloom prefiltered), replay-converging under compact_every, with the
    release hook reachable on the returned query through the
    auto_compacting wrapper (r11 advice)."""
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import (
        build_gram_bloom,
        decontaminate_spans,
        decontaminate_spans_policy,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import streaming_decontaminate_spans_policy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    grams_dir = str(tmp_path / "eval_grams")
    write_eval_gram_table(ev, grams_dir, n=5)

    want = {
        (r["doc_id"], r["text"])
        for r in decontaminate_spans_policy(
            docs, ev, max_frac=0.5, n=5
        ).collect()
    }
    spans_only = {
        (r["doc_id"], r["text"])
        for r in decontaminate_spans(docs, ev, n=5).collect()
    }
    # the threshold drop branch is exercised: some doc survives the span
    # cut but exceeds max_frac and is dropped whole by the policy
    assert want and want < spans_only

    bloom = build_gram_bloom(ev, n=5, n_bits=1 << 14, k=3)
    for tag, blm in (("nobloom", None), ("bloom", bloom)):
        stage = str(tmp_path / f"stage_{tag}")
        out = str(tmp_path / f"out_{tag}")
        stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
        q = streaming_decontaminate_spans_policy(
            stream, grams_dir, out, str(tmp_path / f"ckpt_{tag}"),
            max_frac=0.5, bloom=blm, bloom_k=3, n=5, compact_every=2,
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["doc_id"], r["text"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == want, tag
        # the release hook survives the auto_compacting wrapper and is
        # reachable from the entry point's returned query
        assert callable(q.unpersist_eval), tag
        q.unpersist_eval()


def test_auto_compacting_preserves_processor_attributes(spark):
    """r11 advice: compact_every used to drop the inner processor's
    attributes (unpersist_eval among them), pinning the cached eval
    table for the session lifetime with no reachable release handle."""
    from tuktu_spark.streaming.llm import auto_compacting

    def proc(batch_df, batch_id):
        pass

    released = []
    proc.unpersist_eval = lambda: released.append(True)

    wrapped = auto_compacting(proc, spark, [], compact_every=3)
    wrapped.unpersist_eval()
    assert released == [True]
    # compact_every=None returns the processor unchanged (identity)
    assert auto_compacting(proc, spark, [], None) is proc


def test_store_has_batches_warns_on_unexpected_layout(spark, tmp_path, caplog):
    """r11 advice: a store partitioned with anything other than batch_id
    OUTERMOST would silently never compact — the exact
    silent-maintenance-disable failure mode the pre-check exists to
    avoid. That layout now logs a WARNING; a genuinely empty store
    stays a quiet skip."""
    import logging

    from tuktu_spark.streaming.llm import _store_has_batches

    # nonexistent: False, no warning
    with caplog.at_level(logging.WARNING, logger="tuktu_spark.streaming.llm"):
        assert _store_has_batches(spark, str(tmp_path / "nope")) is False
        assert not caplog.records

        # empty dir (zero-row partitionBy write shape): False, no warning
        empty = tmp_path / "empty"
        empty.mkdir()
        (empty / "_SUCCESS").touch()
        assert _store_has_batches(spark, str(empty)) is False
        assert not caplog.records

        # batch_id partitions: True
        good = tmp_path / "good"
        (good / "batch_id=0").mkdir(parents=True)
        assert _store_has_batches(spark, str(good)) is True
        assert not caplog.records

        # foreign partition layout: False + WARNING
        odd = tmp_path / "odd"
        (odd / "list_id=3").mkdir(parents=True)
        assert _store_has_batches(spark, str(odd)) is False
        assert any(
            "NEVER be" in r.getMessage() for r in caplog.records
        ), [r.getMessage() for r in caplog.records]


def test_decontaminate_entry_points_expose_release_hook(spark, sf_dir, tmp_path):
    """r11 advice: unpersist_eval is reachable from ALL THREE high-level
    decontamination entry points (report / spans / policy), including
    when compact_every wraps the processor, and calling it actually
    releases the no-bloom regime's cached gram table."""
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import write_eval_gram_table
    from tuktu_spark.streaming.llm import (
        streaming_decontaminate,
        streaming_decontaminate_spans,
        streaming_decontaminate_spans_policy,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    grams_dir = str(tmp_path / "eval_grams")
    write_eval_gram_table(ev, grams_dir, n=5)

    entries = (
        ("report", streaming_decontaminate, {}),
        ("spans", streaming_decontaminate_spans, {}),
        ("policy", streaming_decontaminate_spans_policy, {"max_frac": 0.5}),
    )
    for tag, entry, kw in entries:
        stage = str(tmp_path / f"stage_{tag}")
        stream = STR.replay_dataframe(
            docs.limit(30), stage, chunks=2, order_col="doc_id"
        )
        q = entry(
            stream, grams_dir, str(tmp_path / f"out_{tag}"),
            str(tmp_path / f"ckpt_{tag}"), n=5, compact_every=2, **kw
        )
        q.processAllAvailable()
        q.stop()
        cached = q.unpersist_eval.__self__
        assert cached.is_cached, tag
        q.unpersist_eval()
        assert not cached.is_cached, tag


def test_streaming_attribution_matches_batch(spark, sf_dir, tmp_path):
    """r12: per-batch contamination ATTRIBUTION against a frozen
    attributed (eval_id, gram) table — union of batch outputs equals
    batch contamination_attribution over the whole corpus, in both eval
    regimes; the artifact kind is validated both ways (plain table ->
    attribution processor fails loudly, attributed table -> anonymous
    report processor fails loudly)."""
    import pytest
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import (
        build_gram_bloom,
        contamination_attribution,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import (
        make_attribution_batch_processor,
        make_decontaminate_batch_processor,
        streaming_attribution,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    grams_dir = str(tmp_path / "attr_grams")
    write_eval_gram_table(ev, grams_dir, n=5, eval_id="eval_id")

    want = {
        (r["doc_id"], r["eval_id"], r["n_shared_grams"])
        for r in contamination_attribution(docs, ev, n=5).collect()
    }
    assert want

    bloom = build_gram_bloom(ev, n=5, n_bits=1 << 14, k=3)
    for tag, blm in (("nobloom", None), ("bloom", bloom)):
        stage = str(tmp_path / f"stage_{tag}")
        out = str(tmp_path / f"out_{tag}")
        stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
        q = streaming_attribution(
            stream, grams_dir, out, str(tmp_path / f"ckpt_{tag}"),
            bloom=blm, bloom_k=3, n=5, compact_every=2,
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r["doc_id"], r["eval_id"], r["n_shared_grams"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == want, tag
        q.unpersist_eval()

    # artifact-kind guards, both directions
    plain_dir = str(tmp_path / "plain_grams")
    write_eval_gram_table(ev.select("text"), plain_dir, n=5)
    with pytest.raises(ValueError, match="attributed"):
        make_attribution_batch_processor(
            spark, plain_dir, str(tmp_path / "x"), None, 2, n=5
        )
    with pytest.raises(ValueError, match="plain"):
        make_decontaminate_batch_processor(
            spark, grams_dir, str(tmp_path / "y"), None, 2, n=5
        )


def test_attribution_store_summary_matches_batch(spark, sf_dir, tmp_path):
    """r13: the read-side dashboard fold — attribution_store_summary
    over a replayed SUITE-granularity attribution store equals the
    batch contamination_overlap_summary over the same corpus (the
    store composition invariant), survives store compaction, and
    rejects a store without attribution columns."""
    import pytest
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import (
        contamination_overlap_summary,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import (
        attribution_store_summary,
        streaming_attribution,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 == 0)
        .select(F.col("lang").alias("suite"), "text")
    )
    grams_dir = str(tmp_path / "suite_grams")
    write_eval_gram_table(ev, grams_dir, n=5, eval_id="suite")

    want = {
        (r["suite"], r["n_contaminated_docs"], r["total_shared_grams"],
         r["max_shared_grams"])
        for r in contamination_overlap_summary(
            docs, ev, eval_id="suite", n=5
        ).collect()
    }
    assert want

    out = str(tmp_path / "store")
    stream = STR.replay_dataframe(
        docs, str(tmp_path / "stage"), chunks=3, order_col="doc_id"
    )
    q = streaming_attribution(
        stream, grams_dir, out, str(tmp_path / "ckpt"), n=5,
        compact_every=2,  # summary must be compaction-invariant
    )
    q.processAllAvailable()
    q.stop()
    q.unpersist_eval()
    got = {
        (r["suite"], r["n_contaminated_docs"], r["total_shared_grams"],
         r["max_shared_grams"])
        for r in attribution_store_summary(
            spark, out, eval_id_col="suite"
        ).collect()
    }
    assert got == want

    # a plain (anonymous) store lacks the attribution columns
    plain = str(tmp_path / "plain_store")
    docs.limit(2).select("doc_id").withColumn(
        "batch_id", F.lit(0)
    ).write.partitionBy("batch_id").parquet(plain)
    with pytest.raises(ValueError, match="anonymous"):
        attribution_store_summary(spark, plain, eval_id_col="suite")


def test_streaming_fuzzy_decontaminate_matches_batch(spark, sf_dir, tmp_path):
    """r13: per-batch FUZZY (MinHash-LSH) contamination pairs against a
    frozen write_eval_fuzzy_table artifact — union of batch outputs
    equals batch fuzzy_contamination_pairs over the whole corpus
    (banding + exact verify are pure functions of the text, so
    per-batch pairs compose exactly); the eval cache is released by the
    query-attached hook."""
    from pyspark.sql import functions as F

    import tuktu_spark.streaming as STR
    from tuktu_spark.llm.decontaminate import (
        fuzzy_contamination_pairs,
        write_eval_fuzzy_table,
    )
    from tuktu_spark.streaming.llm import streaming_fuzzy_decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    fuzzy_dir = str(tmp_path / "fuzzy_art")
    write_eval_fuzzy_table(ev, fuzzy_dir, n=3)

    want = {
        (r["doc_id"], r["eval_id"], round(r["jaccard"], 12))
        for r in fuzzy_contamination_pairs(
            docs, ev, n=3, threshold=0.8
        ).collect()
    }
    assert want

    stage = str(tmp_path / "stage")
    out = str(tmp_path / "out")
    stream = STR.replay_dataframe(docs, stage, chunks=3, order_col="doc_id")
    q = streaming_fuzzy_decontaminate(
        stream, fuzzy_dir, out, str(tmp_path / "ckpt"),
        threshold=0.8, n=3, compact_every=2,
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["doc_id"], r["eval_id"], round(r["jaccard"], 12))
        for r in spark.read.parquet(out).collect()
    }
    assert got == want
    cached = q.unpersist_eval.__self__
    assert cached.is_cached
    q.unpersist_eval()
    assert not cached.is_cached


def test_fuzzy_processor_engine_passthrough(spark, sf_dir, tmp_path):
    """r13: the fuzzy processor's engine knob — 'shuffle' (no forced
    broadcasts) and 'auto' (pick_fuzzy_engine probe, resolved ONCE at
    build time) both reproduce the default engine's exact pair set
    against the same frozen artifact."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.decontaminate import (
        fuzzy_contamination_pairs,
        write_eval_fuzzy_table,
    )
    from tuktu_spark.streaming.llm import (
        make_fuzzy_decontaminate_batch_processor,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    fuzzy_dir = str(tmp_path / "fuzzy_art")
    write_eval_fuzzy_table(ev, fuzzy_dir, n=3)
    want = {
        (r["doc_id"], r["eval_id"], round(r["jaccard"], 12))
        for r in fuzzy_contamination_pairs(
            docs, ev, n=3, threshold=0.8
        ).collect()
    }
    assert want
    for engine in ("shuffle", "auto"):
        out = str(tmp_path / f"out_{engine}")
        proc = make_fuzzy_decontaminate_batch_processor(
            spark, fuzzy_dir, out, threshold=0.8, n=3, engine=engine
        )
        proc(docs, 0)
        got = {
            (r["doc_id"], r["eval_id"], round(r["jaccard"], 12))
            for r in spark.read.parquet(out).collect()
        }
        assert got == want, engine
        proc.unpersist_eval()


def test_fuzzy_artifact_guards(spark, sf_dir, tmp_path):
    """r13: the fuzzy processor rejects (a) a GRAM table (different
    artifact kind — no _fuzzy_meta.json), (b) a shingle-setting or
    banding-geometry mismatch, (c) an eval id column colliding with the
    corpus id or a reserved store column, (d) threshold <= 0."""
    import pytest
    from pyspark.sql import functions as F

    from tuktu_spark.llm.decontaminate import (
        write_eval_fuzzy_table,
        write_eval_gram_table,
    )
    from tuktu_spark.streaming.llm import make_fuzzy_decontaminate_batch_processor

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_id"), "text"
    )
    gram_dir = str(tmp_path / "grams")
    write_eval_gram_table(ev.select("text"), gram_dir, n=3)
    with pytest.raises(ValueError, match="_fuzzy_meta"):
        make_fuzzy_decontaminate_batch_processor(
            spark, gram_dir, str(tmp_path / "a"), n=3
        )

    fuzzy_dir = str(tmp_path / "fuzzy")
    write_eval_fuzzy_table(ev, fuzzy_dir, n=3)
    with pytest.raises(ValueError, match="n=3"):
        make_fuzzy_decontaminate_batch_processor(
            spark, fuzzy_dir, str(tmp_path / "b"), n=5
        )
    with pytest.raises(ValueError, match="normalize"):
        make_fuzzy_decontaminate_batch_processor(
            spark, fuzzy_dir, str(tmp_path / "c"), n=3, normalize=True
        )
    with pytest.raises(ValueError, match="threshold > 0"):
        make_fuzzy_decontaminate_batch_processor(
            spark, fuzzy_dir, str(tmp_path / "d"), threshold=0.0, n=3
        )
    for bad in ("batch_id", "src_batch", "jaccard", "doc_id"):
        bad_dir = str(tmp_path / f"fuzzy_{bad}")
        write_eval_fuzzy_table(
            ev.select(F.col("eval_id").alias(bad), "text"),
            bad_dir, eval_id=bad, n=3,
        )
        with pytest.raises(ValueError, match="collides"):
            make_fuzzy_decontaminate_batch_processor(
                spark, bad_dir, str(tmp_path / f"e_{bad}"), n=3
            )


def test_attribution_reserved_eval_id_columns_rejected(spark, sf_dir, tmp_path):
    """r12 advice: an attributed table whose id column is named after a
    STORE column (batch_id/src_batch — withColumn(lit(batch_id)) would
    silently overwrite the eval id, corrupting both the output and the
    partition layout — or the n_shared_grams aggregate alias) must be
    rejected at processor build time with the same rewrite-the-artifact
    message as a corpus-id collision."""
    import pytest
    from pyspark.sql import functions as F

    from tuktu_spark.llm.decontaminate import write_eval_gram_table
    from tuktu_spark.streaming.llm import make_attribution_batch_processor

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    for bad in ("batch_id", "src_batch", "n_shared_grams", "doc_id"):
        grams_dir = str(tmp_path / f"grams_{bad}")
        write_eval_gram_table(
            ev.select(F.col("doc_id").alias(bad), "text"),
            grams_dir, n=5, eval_id=bad,
        )
        with pytest.raises(ValueError, match="collides"):
            make_attribution_batch_processor(
                spark, grams_dir, str(tmp_path / f"out_{bad}"), None, 2, n=5
            )


def _persistent_rdd_ids(spark) -> set:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def test_minhash_processor_releases_signatures_when_a_write_fails(
    spark, sf_dir, tmp_path
):
    """The batch's persisted signatures are released even when a store
    write raises: a failed batch must not pin its cache for the life of
    the stream. The pairs write fails here (its directory is an existing
    regular file)."""
    from tuktu_spark.streaming.llm import make_minhash_batch_processor

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 20)
    )
    pairs = tmp_path / "pairs"
    pairs.write_text("not a directory")
    proc = make_minhash_batch_processor(spark, str(tmp_path / "store"), str(pairs))
    before = _persistent_rdd_ids(spark)
    with pytest.raises(Exception):
        proc(docs, 0)
    assert _persistent_rdd_ids(spark) == before


def _store_case(spark, sf_dir, tmp_path, kind):
    """(processor, store directories, batch 0, batch 1) for one store."""
    import os

    from tuktu_spark.streaming import llm as L

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 24)
    )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    if kind in ("exact", "paragraph"):
        make = {
            "exact": (L.make_exact_dedup_batch_processor, "content_md5"),
            "paragraph": (L.make_paragraph_dedup_batch_processor, "paragraph_md5"),
        }
        fn, state = make[kind]
        proc, dirs = fn(spark, store, out), [out, os.path.join(store, state)]
    elif kind == "media":
        from tuktu_spark.llm.multimodal import make_png

        # batch 1 (odd ids) brings one new image and one seen in batch 0
        dx = [3, 101, 253, 3]
        docs = spark.createDataFrame(
            [(i, make_png(6, 5, gradient=(40, dx[i % 4], 7))) for i in range(8)],
            "doc_id long, media binary",
        )
        proc = L.make_media_dedup_batch_processor(spark, store, out)
        dirs = [out, os.path.join(store, "media_sigs")]
    elif kind == "lm":
        from tuktu_spark.llm.ngram_lm import train_ngram_lm

        docs = docs.select("doc_id", F.split("text", " ").alias("tokens"))
        lm = train_ngram_lm(docs, n=2, min_count=1)
        proc, dirs = L.make_lm_score_batch_processor(spark, lm, out), [out]
    elif kind == "dsir":
        from tuktu_spark.llm.dsir import hashed_ngram_features, train_dsir_llr

        docs = docs.select("doc_id", F.split("text", " ").alias("tokens"))
        feats = hashed_ngram_features(docs, buckets=64)
        llr = train_dsir_llr(
            feats.filter(F.col("doc_id") % 2 == 0), feats, buckets=64
        )
        proc = L.make_dsir_weight_batch_processor(spark, llr, out, buckets=64)
        dirs = [out]
    elif kind == "classify":
        from tuktu_spark.llm.multimodal import make_png
        from tuktu_spark.ml.deeplearn import _default_embedder

        docs = spark.createDataFrame(
            [(i, make_png(8, 8, shade=10 + 33 * i)) for i in range(8)],
            "doc_id long, media binary",
        )
        cents = {
            f"shade{s}": _default_embedder(make_png(8, 8, shade=s))
            for s in (10, 240)
        }
        proc = L.make_classify_batch_processor(
            spark, out, cents, _default_embedder
        )
        dirs = [out]
    else:  # decontamination report
        from tuktu_spark.llm.decontaminate import write_eval_gram_table

        grams = str(tmp_path / "grams")
        write_eval_gram_table(docs.filter(F.col("doc_id") % 5 == 0), grams, n=5)
        proc = L.make_decontaminate_batch_processor(spark, grams, out, n=5)
        dirs = [out]
    return (
        proc, dirs,
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1),
    )


@pytest.mark.parametrize(
    "kind",
    ["exact", "paragraph", "media", "lm", "dsir", "classify", "report"],
)
def test_store_replay_and_empty_batch(spark, sf_dir, tmp_path, kind):
    """The micro-batch store contract, per store: processing batch k a
    second time leaves every directory of the store with the same rows
    (a commit-last store skips it, an overwrite store rewrites its own
    partition), and an empty batch writes no partition."""
    import os

    proc, dirs, b0, b1 = _store_case(spark, sf_dir, tmp_path, kind)

    def rows():
        return [
            sorted(map(repr, spark.read.parquet(d).collect())) for d in dirs
        ]

    try:
        proc(b0, 0)
        proc(b1, 1)
        first = rows()
        assert all(os.path.exists(os.path.join(d, "batch_id=1")) for d in dirs)
        proc(b1, 1)
        proc(b1.limit(0), 2)
        assert rows() == first
        assert not any(os.path.exists(os.path.join(d, "batch_id=2")) for d in dirs)
    finally:
        getattr(proc, "unpersist_eval", lambda: None)()


@pytest.mark.parametrize(
    "op",
    [
        "dedup_ingest_batch", "ann_ingest_batch", "decontaminate_ingest_batch",
        "ann_index_compact", "batch_store_compact",
    ],
)
@pytest.mark.parametrize("key", ["keep_latest", "compact_label"])
def test_store_ops_removed_compaction_keys_fail_loudly(spark, op, key):
    from tuktu_spark.flow.compiler import compile_flow

    flow = {
        "generators": [{
            "id": "g", "name": "inline",
            "config": {"rows": [[1]], "columns": ["doc_id"]},
            "next": ["s"],
        }],
        "processors": [{"id": "s", "name": op, "config": {key: 1}, "next": []}],
    }
    with pytest.raises(ValueError, match=f"'{op}'.*'{key}'") as info:
        compile_flow(spark, flow)
    assert f"node s ({op})" in info.value.__notes__
