"""Content-defined chunking (llm/cdc.py — LBFS/FastCDC rolling Gear)."""

from __future__ import annotations

import random

from tuktu_spark.llm.cdc import cdc_boundaries, cdc_chunks, cdc_chunk_table, cdc_dedup_stats


class TestChunking:
    def test_tiling_and_bounds(self):
        rng = random.Random(5)
        for n in (0, 1, 15, 16, 100, 5000):
            blob = bytes(rng.randrange(256) for _ in range(n))
            chunks = cdc_chunks(blob)
            assert b"".join(blob[o : o + l] for o, l, _ in chunks) == blob
            offs = [o for o, _, _ in chunks]
            assert offs == sorted(offs)
            # every chunk but possibly the last respects min_size; all <= max
            for i, (_, l, _) in enumerate(chunks):
                assert l <= 256
                if i < len(chunks) - 1:
                    assert l >= 16

    def test_shift_resilience_the_cdc_property(self):
        """Inserting bytes must leave most downstream chunk hashes
        unchanged — the property fixed-size chunking lacks."""
        rng = random.Random(3)
        blob = bytes(rng.randrange(256) for _ in range(4000))
        base = {m for _, _, m in cdc_chunks(blob)}
        prefixed = {m for _, _, m in cdc_chunks(b"PREFIX!" + blob)}
        mid = {m for _, _, m in cdc_chunks(blob[:2000] + b"XYZ" + blob[2000:])}
        assert len(base & prefixed) / len(base) > 0.9
        assert len(base & mid) / len(base) > 0.9

    def test_determinism(self):
        blob = bytes(range(256)) * 10
        assert cdc_boundaries(blob) == cdc_boundaries(bytes(blob))


def test_cdc_dedup_stats_on_planted_duplicates(spark):
    import hashlib

    def stream(g, blocks):
        return b"".join(
            hashlib.md5(f"{g}:{j}".encode()).digest() for j in range(blocks)
        )

    rows = [(i, stream(i % 3, 40)) for i in range(9)]  # 3 groups x 3 copies
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    chunks = cdc_chunk_table(df)
    stats = cdc_dedup_stats(chunks).collect()[0]
    assert stats["total_chunks"] == 3 * stats["unique_chunks"]
    assert stats["total_bytes"] == 9 * 40 * 16
    assert stats["saved_bytes"] == stats["total_bytes"] - stats["unique_bytes"]
    assert stats["unique_bytes"] * 3 == stats["total_bytes"]


def test_cdc_operators(spark):
    from tuktu_spark.operators import make_operator

    df = spark.createDataFrame(
        [(1, bytes(range(200)) + b"A" * 200), (2, bytes(range(200)) + b"B" * 200)],
        "doc_id long, media binary",
    )
    chunks = make_operator("cdc_chunk", {})(df)
    assert chunks.count() > 2
    stats = make_operator("cdc_dedup_stats", {})(chunks).collect()[0]
    assert stats["saved_bytes"] >= 0


def test_cdc_query_persists_released_by_next_build(spark, sf_dir):
    """multimodal_cdc_dedup's chunk cache and result checkpoint live on the
    persist lifecycle: once the query is built again and its action has
    run, no persistent RDD of the first build is left."""
    from tuktu_spark.queries import load_all

    build = load_all()["multimodal_cdc_dedup"].fn

    def persistent():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    before = persistent()
    first_df = build(spark, sf_dir)
    rows = sorted(map(tuple, first_df.collect()))
    first = persistent() - before
    assert first
    assert sorted(map(tuple, build(spark, sf_dir).collect())) == rows
    assert not first & persistent()
