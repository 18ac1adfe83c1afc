"""Physical-plan quality guards (SCALE.md claims as CI assertions).

These tests pin the plan *shape* — pushdown reaching the scan, dimension
joins broadcasting, no cartesian products in the dedup pipeline — so a
refactor that silently de-optimizes a flagship query fails loudly. Plan
shape is scale-portable: the same properties hold at 100 TB.
"""

from __future__ import annotations

import pytest

from tuktu_spark.queries import load_all


@pytest.fixture(scope="module")
def registry():
    return load_all()


def plan_of(df) -> str:
    jdf = df._jdf
    mode = jdf.sparkSession().sparkContext()._jvm  # noqa: F841 (keep jvm alive)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_predicate_filter_pushes_down(spark, sf_dir, registry):
    plan = plan_of(registry["filter_predicate"].fn(spark, sf_dir))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan
    # column pruning: untouched wide columns never reach the scan
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q5_broadcasts_all_dimensions(spark, sf_dir, registry):
    plan = plan_of(registry["q5_local_supplier_volume"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # region filter must reach the region scan, not evaluate post-join
    assert "EqualTo(r_name,ASIA)" in plan


def test_projection_prunes_scan(spark, sf_dir, registry):
    plan = plan_of(registry["select_project"].fn(spark, sf_dir))
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_minhash_pipeline_has_no_cartesian(spark, sf_dir, registry):
    plan = plan_of(registry["dedup_minhash_lsh"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_brute_force_topk_broadcasts_queries_not_corpus(spark, sf_dir, registry):
    plan = plan_of(registry["similarity_topk_bruteforce"].fn(spark, sf_dir))
    # the query side (vec_id < N) broadcasts; corpus side streams
    assert "BroadcastExchange" in plan


def test_group_agg_is_partial_then_final(spark, sf_dir, registry):
    plan = plan_of(registry["q1_pricing_summary"].fn(spark, sf_dir))
    # two HashAggregate nodes around one Exchange = map-side combine
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_asof_join_is_single_shuffle(spark, sf_dir, registry):
    plan = plan_of(registry["join_asof_latest_ref"].fn(spark, sf_dir))
    # union trick: no join operator at all — one window over one exchange
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("Window") >= 1
    # two exchange NODES total: the refs-side aggregation and the window
    # partitionBy — any more would mean the trick regressed to a join
    import re

    nodes = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(nodes) <= 2


def test_range_join_broadcasts_band_dimension(spark, sf_dir, registry):
    plan = plan_of(registry["join_range_bands"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan  # non-equi + broadcast dim
    assert "SortMergeJoin" not in plan
    # fact side must not shuffle for a broadcast join
    assert "Exchange hashpartitioning" not in plan


def test_ngram_jaccard_prefix_filter_no_cartesian(spark, sf_dir, registry):
    plan = plan_of(registry["dedup_ngram_jaccard"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nbsvm_scoring_broadcasts_weights(spark, sf_dir, registry):
    """nbsvm_predict joins the vocab-sized weight table: must broadcast
    (never shuffle the corpus side) and never go nested-loop."""
    from pyspark.sql import functions as F

    from tuktu_spark.ml.nbsvm import NbsvmModel, nbsvm_predict
    from tuktu_spark.tables import load_table

    model = NbsvmModel(
        vocab={"fast": 0, "slow": 1}, ratios=[1.0, -1.0],
        weights=[0.5, 0.5], intercept=0.0, beta=0.25,
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    plan = plan_of(nbsvm_predict(docs, model))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fasttext_pairs_no_cartesian(spark, sf_dir, registry):
    plan = plan_of(registry["nlp_fasttext_similar_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _assert_only_scan_parallelism_exchange(plan: str) -> None:
    """Per-row algebra must introduce NO data-keyed exchange: the only
    Exchange permitted is the single RoundRobin repartition that
    ensure_parallelism adds when the local scan is one small file (at
    cluster scale that branch is a no-op, so the plan is exchange-free)."""
    import re

    # formatted plans print each node twice (tree line + detail header);
    # count detail headers so one Exchange node counts once
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan)) or plan.count("Exchange")
    assert n_ex <= 1, plan
    if n_ex:
        assert "RoundRobinPartitioning" in plan, plan


def test_rbem_is_shuffle_free(spark, sf_dir, registry):
    """RBEM polarity is pure per-row algebra: no exchange beyond the
    explicit scan-parallelism round-robin (embarrassingly parallel)."""
    plan = plan_of(registry["nlp_rbem_polarity"].fn(spark, sf_dir))
    _assert_only_scan_parallelism_exchange(plan)


def test_pos_tags_is_shuffle_free(spark, sf_dir, registry):
    plan = plan_of(registry["nlp_pos_tags"].fn(spark, sf_dir))
    _assert_only_scan_parallelism_exchange(plan)


def test_hmm_viterbi_single_shuffle(spark, sf_dir, registry):
    """Viterbi decode: exactly the one groupBy(sequence-key) shuffle."""
    plan = plan_of(registry["ml_hmm_decode"].fn(spark, sf_dir))
    assert plan.count("+- Exchange") == 1


def test_attribution_broadcasts_eval_and_shuffles_only_hits(
    spark, sf_dir, registry
):
    """r12 verdict #6: the 100 TB claim for contamination attribution is
    'eval-sized broadcast, hits-only shuffle' — measured in SCALE.md r12,
    pinned here so a future edit can't silently add a corpus shuffle.
    Shape: exactly ONE BroadcastExchange and it is the EVAL side (its
    input carries eval_id); the corpus branch reaches the gram join
    straight from the scan (no Exchange between corpus scan and join);
    every hashpartitioning exchange carries eval_id — i.e. the eval-side
    distinct and the post-join hits aggregations — never the raw corpus."""
    import re

    plan = plan_of(registry["dedup_decontaminate_attribution"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # one broadcast, and it is the eval side: its detail block's Input
    # line names eval_id
    bx = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert len(bx) == 1, plan
    assert "eval_id" in bx[0], bx
    # every data-keyed exchange partitions on keys that include eval_id
    # (eval distinct / hits aggregation) — a corpus-side shuffle would
    # hashpartition on doc_id/gram alone
    hp = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert hp and all("eval_id" in args for args in hp), hp
    assert len(hp) <= 3, hp


def test_summarize_no_join(spark, sf_dir, registry):
    """Sentence scoring stays within the row (map lookup, no TF join)."""
    plan = plan_of(registry["nlp_summarize_top_sentences"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_simhash_pairs_no_cartesian(spark, sf_dir, registry):
    """Banded chunk equi-join, never all-pairs."""
    plan = plan_of(registry["dedup_simhash_near_pairs"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the persisted simhash table feeds both self-join sides
    assert "InMemoryTableScan" in plan


def test_shorttext_vocab_single_explode_groupby(spark, sf_dir, registry):
    """Feature n-gram vocabulary: explode + one partial/final count — no
    joins at all in the corpus-scaled stage."""
    plan = plan_of(registry["nlp_shorttext_vocab"].fn(spark, sf_dir))
    assert "Join" not in plan
    assert "partial_count" in plan and "HashAggregate" in plan


def test_fasttext_buckets_broadcasts_token_table(spark, sf_dir, registry):
    """Per-distinct-token gram hashing joins back via broadcast; the
    corpus side must not sort-merge."""
    plan = plan_of(registry["nlp_fasttext_buckets"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_location_detect_broadcasts_gazetteer(spark):
    from tuktu_spark.ml.location import detect_locations

    gaz = spark.createDataFrame(
        [("amsterdam", 52.37, 4.89, 800000)],
        "name string, lat double, lon double, pop bigint",
    )
    df = spark.createDataFrame([(["amsterdam"],)], "tokens array<string>")
    plan = plan_of(detect_locations(df, "tokens", gaz))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed+sorted on the join key with the same bucket
    count must sort-merge-join with ZERO Exchange operators — the
    co-located repeated-join pattern SCALE.md prescribes for 100 TB."""
    import uuid

    from pyspark.sql import functions as F

    from tuktu_spark.operators import make_operator

    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bk_a_{suffix}", f"bk_b_{suffix}"
    a = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("va")
    )
    b = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 31).alias("vb")
    )
    make_operator("bucketed_write", {"table": ta, "buckets": 8, "by": ["k"]})(a)
    make_operator("bucketed_write", {"table": tb, "buckets": 8, "by": ["k"]})(b)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = plan_of(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 10_000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_shingle_index_dedup_equivalence_and_plan(spark, sf_dir):
    """Write-once/dedup-many: minhash over the bucketed shingle index must
    (a) produce the SAME pairs as the direct pipeline, (b) never re-scan
    or re-hash the raw text (no xxhash64 in the plan — shingles come from
    the index), and (c) start id-keyed joins from bucket-aligned
    partitioning: a self-join of the index on the id has ZERO Exchange."""
    import uuid

    from tuktu_spark.llm import dedup as D

    table = f"shingle_idx_{uuid.uuid4().hex[:8]}"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    D.write_shingle_index(docs, table, buckets=4)
    try:
        direct = D.minhash_dedup_pairs(docs, threshold=0.8)
        indexed = D.minhash_dedup_pairs_from_index(spark, table, threshold=0.8)
        a = {(r.id_a, r.id_b, round(r.jaccard, 12)) for r in direct.collect()}
        b = {(r.id_a, r.id_b, round(r.jaccard, 12)) for r in indexed.collect()}
        assert a == b and len(a) > 0
        plan = plan_of(D.minhash_dedup_pairs_from_index(spark, table, threshold=0.8))
        assert "xxhash64" not in plan  # no text re-scan, index only
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            idx = spark.table(table)
            self_joined = idx.join(
                idx.withColumnRenamed("shingles", "shingles_b"), "doc_id"
            )
            jplan = plan_of(self_joined)
            assert "Exchange" not in jplan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """parquet_sink with partition_by must yield a layout where a filter
    on the partition column prunes at PLANNING time: the scan's
    PartitionFilters carries the predicate and the data filter list does
    NOT re-check it (no row-level work for pruned dates) — the
    date-partitioned ingest pattern every 100 TB event table uses."""
    from pyspark.sql import functions as F

    from tuktu_spark.operators import make_operator

    out = str(tmp_path_factory.mktemp("part")) + "/events_by_date"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "event_date", F.to_date("ts")
    )
    make_operator("parquet_sink", {"path": out, "partition_by": ["event_date"]})(ev)

    dates = [r["event_date"] for r in
             spark.read.parquet(out).select("event_date").distinct().collect()]
    target = sorted(dates)[0]
    back = spark.read.parquet(out).filter(F.col("event_date") == F.lit(target))
    plan = plan_of(back)
    assert "PartitionFilters" in plan
    assert "event_date" in plan.split("PartitionFilters")[1].splitlines()[0]
    n_selected = back.count()
    assert 0 < n_selected < spark.read.parquet(out).count()


def test_pack_sequences_streamed_has_no_global_window(spark, sf_dir, registry):
    """Round-4 verdict #5 (superseded in round 5 by a real fix): the
    stream_cols form partitions the window shuffle by the stream key (no
    SinglePartition exchange anywhere), and the GLOBAL form now computes a
    distributed prefix sum — the data-carrying window is clustered by
    partition id, never a single task; the only SinglePartition piece is
    the partition-count-sized offsets table."""
    plan = plan_of(registry["mix_pack_sequences"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(lang" in plan

    from tuktu_spark.llm.mixing import pack_sequences

    df = spark.range(0, 5000).selectExpr("id AS doc_id", "id % 37 + 1 AS n")
    gplan = plan_of(pack_sequences(df, 512, "n"))
    # round 7: the global form dispatches to the persist-FREE bounded
    # prefix sum — the data window clusters by the value-determined
    # bucket id (never one task, never a cache pin)
    assert "hashpartitioning(__bkt__" in gplan  # parallel cumsum window

    # identical chunk ids to the naive single-window semantics
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    cum = F.sum("n").over(
        W.orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = {r["doc_id"]: r["c"] for r in
            df.withColumn("c", F.floor((cum - 1) / 512).cast("bigint")).collect()}
    got = {r["doc_id"]: r["chunk_id"] for r in pack_sequences(df, 512, "n").collect()}
    assert got == want


def test_tfidf_fused_single_data_exchange(spark, sf_dir, registry):
    """Round-4 verdict #7: tf, df_t (window over the same term
    partitioning), and the former dfreq join ride ONE data-scale exchange;
    the only other exchanges are the tiny n_docs aggregate + its broadcast."""
    import re

    plan = plan_of(registry["nlp_tfidf_top"].fn(spark, sf_dir))
    n_exchanges = len(set(re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan)))
    assert n_exchanges <= 6, plan
    assert "SortMergeJoin" not in plan


def test_fasttext_buckets_fused_single_data_exchange(spark, sf_dir, registry):
    """Round-5 chain fusion (same move as tf_idf): the corpus-scale data
    crosses the wire once (repartition by doc id, reused by both groupBys
    and the normalization window); remaining exchanges are vocab-sized."""
    import re

    plan = plan_of(registry["nlp_fasttext_buckets"].fn(spark, sf_dir))
    n_exchanges = len(set(re.findall(r"\(\d+\) (?:Broadcast)?Exchange", plan)))
    # +1 over the round-5 pin: the explicit scan-parallelism round-robin
    # (ensure_parallelism, round 7) precedes the fused doc-id exchange
    assert n_exchanges <= 5, plan
    assert "RoundRobinPartitioning" in plan
    assert "SinglePartition" not in plan


def test_ngram_lm_doc_exchange_below_explode(spark, sf_dir, registry):
    """r14 pin (r13 verdict #8) for the r13 pre-explode partitioning
    win: in text_ngram_lm_score's scoring spine the ONE doc-keyed
    exchange sits BELOW the posexplode (whole docs cross the wire, not
    (doc, pos, gram) rows) and the per-doc Window rides it with no
    exchange of its own. A refactor that reintroduces the exploded-row
    shuffle (hash exchange above the Generate) must fail here."""
    import re

    plan = plan_of(registry["text_ngram_lm_score"].fn(spark, sf_dir))
    lines = plan.splitlines()
    win = next(i for i, l in enumerate(lines) if re.search(r"Window \(\d+\)", l))
    gen = next(i for i, l in enumerate(lines) if re.search(r"Generate \(\d+\)", l))
    leaf = next(i for i, l in enumerate(lines) if "Scan parquet" in l)
    # tree prints root-first: Window above Generate above the leaf scan
    assert win < gen < leaf, plan
    # no exchange between the window and the explode (window rides the
    # doc partitioning established below)
    assert not any("Exchange" in l for l in lines[win:gen]), plan
    # exactly one exchange between the explode and the corpus scan...
    spine = [l for l in lines[gen : leaf + 1] if re.search(r"Exchange \(\d+\)", l)]
    assert len(spine) == 1, plan
    # ...and it is the doc-keyed pinned-width repartition
    node = re.search(r"Exchange \((\d+)\)", spine[0]).group(1)
    detail = plan.split(f"({node}) Exchange", 1)[1].split("\n\n", 1)[0]
    assert "hashpartitioning(doc_id" in detail, detail
    assert "REPARTITION_BY_NUM" in detail, detail


def test_zip_merge_default_engine_is_distributed(spark):
    """Round-5 verdict #2: zip_merge/js_merge must not default to the
    single-partition global window. The default plan numbers both branches
    with the distributed positional kernel (pid-clustered windows +
    broadcast offsets) — no SinglePartition exchange on the data path;
    Indices equal a global ``row_number() OVER (ORDER BY ...)``."""
    from tuktu_spark.operators.registry import make_operator

    a = spark.range(0, 2000).selectExpr("id AS pos", "id * 2 AS x")
    b = spark.range(0, 2000).selectExpr("id AS pos", "id * 3 AS y")
    out = make_operator("zip_merge", {"order_by": ["pos"]})(a, b)
    plan = plan_of(out)
    # the only SinglePartition pieces allowed are the bucket-count-sized
    # offsets tables; the data-carrying windows must be bucket-clustered
    # (round 7: plain ascending orders dispatch to the persist-free
    # bounded kernel, whose window keys on the value-determined bucket)
    assert "hashpartitioning(__bkt__" in plan
    data_windows = [
        ln for ln in plan.splitlines()
        if "Window" in ln and "row_number" in ln and "__bkt__" not in ln
    ]
    assert not data_windows, data_windows

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    # same rows as a zip on a global row_number window
    rn = F.row_number().over(Window.orderBy("pos"))
    w = a.withColumn("rn", rn).drop("pos").join(b.withColumn("rn", rn), "rn")
    cols = ["x", "pos", "y"]
    assert sorted(map(tuple, out.select(cols).collect())) == sorted(
        map(tuple, w.select(cols).collect())
    )

    j = make_operator("js_merge", {"order_by": ["pos"]})(
        a.withColumn("tuktu_js_field", F.array(F.create_map(F.lit("k"), F.lit("v")))),
        b.withColumn("tuktu_js_field", F.array(F.create_map(F.lit("k"), F.lit("w")))),
    )
    jplan = plan_of(j)
    assert "hashpartitioning(__bkt__" in jplan


def test_bounded_positional_kernel(spark):
    """Round-6 (r5 ADVICE): the bounded kernel assigns the same indices
    as a global window, uses NO cache pin (recompute-safe by
    construction), and is deterministic across separate plan builds."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from tuktu_spark import tables as T
    from tuktu_spark.operators.joins import _global_row_number_bounded

    # skewed + tied keys across many partitions
    df = (
        spark.range(0, 20000, 1, 16)
        .selectExpr("id % 977 AS k", "id AS payload")
    )
    got = _global_row_number_bounded(df, ["k", "payload"], "rn")
    want = df.withColumn("rn", F.row_number().over(W.orderBy("k", "payload")))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # ties: index SET per key must match (tie order is unspecified)
    tied = spark.range(0, 5000, 1, 8).selectExpr("id % 13 AS k")
    g = _global_row_number_bounded(tied, ["k"], "rn").groupBy("k").agg(
        F.sort_array(F.collect_list("rn")).alias("rns")
    )
    w = tied.withColumn("rn", F.row_number().over(W.orderBy("k"))).groupBy(
        "k"
    ).agg(F.sort_array(F.collect_list("rn")).alias("rns"))
    assert {tuple(r["rns"]) for r in g.collect()} == {
        tuple(r["rns"]) for r in w.collect()
    }

    # no persist registered, no InMemoryRelation in the plan
    T.release()
    out = _global_row_number_bounded(df, ["k", "payload"], "rn")
    out.count()
    assert not T._PERSISTS
    assert "InMemoryRelation" not in plan_of(out)

    # two independent builds agree exactly (value-determined boundaries)
    a = _global_row_number_bounded(df, ["k", "payload"], "rn").collect()
    b = _global_row_number_bounded(df, ["k", "payload"], "rn").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    # expression orders are rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="column names"):
        _global_row_number_bounded(df, [F.col("k").desc()], "rn")

    # zip_merge takes it for a plain ascending order
    from tuktu_spark.operators.registry import make_operator

    x = spark.range(0, 300).selectExpr("id AS pos", "id * 2 AS a")
    y = spark.range(0, 300).selectExpr("id AS pos", "id * 3 AS b")
    zb = make_operator("zip_merge", {"order_by": ["pos"]})(x, y)
    assert "hashpartitioning(__bkt__" in plan_of(zb)
    rn = F.row_number().over(W.orderBy("pos"))
    zw = x.withColumn("rn", rn).drop("pos").join(y.withColumn("rn", rn), "rn")
    cols = ["pos", "a", "b"]
    assert sorted(map(tuple, zb.select(cols).collect())) == sorted(
        map(tuple, zw.select(cols).collect())
    )


def test_js_merge_bounded_engine(spark):
    from pyspark.sql import functions as F

    from tuktu_spark.operators.registry import make_operator

    a = spark.range(0, 200).selectExpr("id AS pos", "id*2 AS x").withColumn(
        "tuktu_js_field", F.array(F.create_map(F.lit("k"), F.lit("v")))
    )
    b = spark.range(0, 200).selectExpr("id AS pos", "id*3 AS y").withColumn(
        "tuktu_js_field",
        F.array(F.create_map(F.lit("k"), F.lit("w")),
                F.create_map(F.lit("m"), F.lit("z"))),
    )
    key = lambda r: (r["pos"], r["x"], r["y"],
                     tuple(tuple(sorted(m.items())) for m in r["tuktu_js_field"]))
    jb = make_operator("js_merge", {"order_by": ["pos"]})(a, b)
    assert "hashpartitioning(__bkt__" in plan_of(jb)
    # reference: zip on a global row_number window; the js column by hand
    # (b's "k" key is dropped, its "m" map kept)
    from pyspark.sql import Window

    rn = F.row_number().over(Window.orderBy("pos"))
    jw = a.withColumn("rn", rn).drop("pos").join(
        b.withColumn("rn", rn).drop("tuktu_js_field"), "rn"
    )
    js = ((("k", "v"),), (), (("m", "z"),))
    want = sorted((r["pos"], r["x"], r["y"], js) for r in jw.collect())
    assert sorted(map(key, jb.collect())) == want and len(want) == 200


def test_query_builds_release_prior_positional_persists(spark, sf_dir, registry):
    """r5 ADVICE (medium): building a query releases the positional
    persists pinned by PREVIOUS query builds, so driver/bench loops
    cannot accumulate cached sorted copies."""
    from tuktu_spark import tables as T

    q = registry["zip_merge_branches"].fn
    q(spark, sf_dir).count()
    pinned = list(T._PERSISTS)
    assert pinned  # the kernel did pin this build's sort
    q(spark, sf_dir).count()
    # second build released the first build's pins before adding its own
    assert len(T._PERSISTS) == len(pinned)
    assert not any(p is df for p in pinned for df in T._PERSISTS)
    T.release()
    assert not T._PERSISTS


def test_plan_audit_covers_live_bench_set(registry):
    """r8 verdict #2: PLAN_AUDIT.md (the ruling plan-quality document) must
    cover EXACTLY the live bench-tagged query set — a bench query added
    without regenerating the audit fails CI instead of going stale."""
    import pathlib
    import re

    from tuktu_spark.queries import load_all

    bench = {n for n, qd in load_all().items() if qd.bench}
    doc = pathlib.Path(__file__).resolve().parents[1] / "PLAN_AUDIT.md"
    text = doc.read_text()
    # scope to the bench table: the r12 full-registry guard section
    # appends its own (registry-wide) bnlj table below this marker
    marker = "\n## Full-registry cartesian/bnlj guard"
    if marker in text:
        text = text[: text.index(marker)]
    rows = {
        m.group(1) for m in re.finditer(r"^\| (\w+) \|", text, re.M)
    } - {"query"}
    assert rows == bench, (
        f"PLAN_AUDIT.md stale: missing {sorted(bench - rows)}, "
        f"extra {sorted(rows - bench)} — rerun scripts/plan_audit.py"
    )


def test_plan_audit_counts_distinct_nodes_not_lines(spark):
    """r10 verdict #2: scripts/plan_audit.py must count DISTINCT plan
    node ids, not matching lines of the formatted explain — a reused
    subtree (here: a cached DataFrame joined to itself, whose
    InMemoryRelation body is printed in full under every one of its
    parents) repeats its Exchange/join lines per parent and inflated
    the audit ~7x. The cached one-time build plan carries no ``(id)``
    headers, so the node count sees only the per-run operators."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1] / "scripts"))
    from plan_audit import audit, plan_nodes

    from pyspark.sql import functions as F

    agg = (
        spark.range(200)
        .withColumn("k", F.col("id") % 7)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    import re

    try:
        agg.count()  # materialize so the cached body prints under each scan
        j = (
            agg.alias("a")
            .join(agg.alias("b"), "k")
            .join(agg.alias("c"), "k")
        )
        plan = plan_of(j)
        # the cached build plan's shuffle Exchange lines appear in the
        # TEXT once per InMemoryTableScan parent AND again under each
        # AQE "== Initial Plan ==" echo — the precondition for the bug
        # (line counting would report >= 6 exchanges here)
        assert len(re.findall(r"\bExchange \(\d+\)", plan)) >= 6, plan
        a = audit(plan)
        # ...but the plan holds ONE real shuffle (the cached build's),
        # three cache scans and two broadcast joins
        assert a["exchanges"] == 1, plan
        assert a["bhj"] == 2, plan
        names = plan_nodes(plan)
        assert names.count("InMemoryTableScan") == 3
    finally:
        agg.unpersist()


def test_plan_audit_scopes_subquery_node_ids(spark):
    """Node ids RESTART inside each formatted-explain Subquery section;
    plan_nodes must scope de-duplication per section or a subquery's
    operators silently collapse into the main plan's same-id nodes."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1] / "scripts"))
    from plan_audit import plan_nodes

    from pyspark.sql import functions as F

    df = spark.range(100).withColumn("v", F.col("id") % 13)
    df.createOrReplaceTempView("pa_sub_t")
    q = spark.sql(
        "SELECT id, v FROM pa_sub_t WHERE v > (SELECT avg(v) FROM pa_sub_t)"
    )
    plan = plan_of(q)
    names = plan_nodes(plan)
    if "Subquery:1" in plan:
        # the scalar subquery's own aggregate must be counted
        assert names.count("HashAggregate") >= 2, plan
