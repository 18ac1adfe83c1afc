"""Streaming micro-batch stores: the LLM-pipeline operators a stream runs
through ``foreachBatch`` — incremental MinHash, exact, paragraph and media
dedup; frozen-model LM, DSIR and classification scoring; frozen-eval-table
decontamination; ANN-index ingest. Each writes parquet stores under one
contract, implemented once by the helpers below:

- ``batch_id`` is the outermost partition column of every store
  (``partitionBy("batch_id", *extra)``), written by ``_write_batch``;
- writes use dynamic partition overwrite, so a batch only ever replaces
  its own partitions;
- an empty micro-batch writes nothing (``_per_batch``);
- a dedup store keeps its state (signatures, content or paragraph hashes)
  in a directory that commits LAST: a stored ``batch_id`` there proves
  every write of that batch committed, so a replay of it is skipped
  (``_commit_last``); a stateless store (scores, labels, decontamination
  outputs, the ANN index) overwrites its own partition with the same rows
  on a replay;
- ``src_batch`` is a data column recording the origin epoch, stamped by
  the decontamination stores and the ANN index; compaction stamps it for
  the rest, so a crash-rerun copy stays distinguishable from a legitimate
  cross-epoch duplicate after the partition is relabelled
  (``compact_batch_store``);
- every entry point starts its query through ``foreach_batch_sink``
  (``_start``), optionally wrapped in ``auto_compacting``.

Readers select named data columns and ignore ``batch_id``/``src_batch``.

The MinHash store emits EXACTLY the batch LSH candidate set over the same
corpus (banding is deterministic and order-independent — pinned by test):
new docs band-join against both the batch itself and the accumulated
signature store, so a pair is found whichever micro-batch each member
arrived in. The store holds one row of NUM_HASHES ints per doc, never the
text; exact Jaccard verification stays a batch job over the candidates.
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm import dedup as D
from .ops import foreach_batch_sink

_LOG = logging.getLogger(__name__)

# Compaction keeps the newest real batch un-folded (a crash-replay of it
# must still find its own partition) and folds the older ones into one
# partition labelled below every epoch id (epochs start at 0).
KEEP_LATEST = 1
COMPACT_LABEL = -1


def _read_store(spark, path: str) -> DataFrame | None:
    """The parquet store at ``path``, or None if it does not exist yet.
    Only AnalysisException (path not found / empty directory) means 'no
    store'; any other failure — permissions, a corrupt file, a transient
    FS error — propagates so the engine retries the batch instead of
    silently dropping every cross-batch match."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def _write_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    provenance: bool = False,
    partition_cols: "tuple[str, ...]" = (),
) -> None:
    """Write ``df`` as the ``batch_id`` partition of the store at ``path``
    with dynamic overwrite; ``provenance`` adds the ``src_batch`` column,
    ``partition_cols`` further partition levels under ``batch_id``."""
    df = df.withColumn("batch_id", F.lit(batch_id))
    if provenance:
        df = df.withColumn("src_batch", F.lit(batch_id))
    (
        df.write.mode("overwrite")
        .options(partitionOverwriteMode="dynamic")
        .partitionBy("batch_id", *partition_cols)
        .parquet(path)
    )


def _per_batch(body):
    """The foreachBatch processor running ``body(batch_df, batch_id)`` on
    every non-empty micro-batch."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            body(batch_df, batch_id)

    return process


def _commit_last(spark, store: str):
    """Decorator for the body of a store whose state directory ``store``
    is written last: ``body(batch_df, batch_id, old)`` gets the state of
    the earlier batches (None before the first), and a batch whose
    ``batch_id`` is already in ``store`` has committed and is skipped."""

    def deco(body):
        def process(batch_df: DataFrame, batch_id: int) -> None:
            old = _read_store(spark, store)
            if old is not None and "batch_id" in old.columns:
                if old.filter(F.col("batch_id") == batch_id).limit(1).count() > 0:
                    return
                old = old.drop("batch_id")
            body(batch_df, batch_id, old)

        return _per_batch(process)

    return deco


def _start(stream: DataFrame, process, checkpoint: str, dirs, compact_every):
    """Start a store's query: ``process`` wrapped in auto_compacting over
    ``dirs`` and run by foreach_batch_sink. The query carries the
    processor's ``unpersist_eval`` release handle when it has one."""
    process = auto_compacting(process, stream.sparkSession, dirs, compact_every)
    query = foreach_batch_sink(stream, process, checkpoint=checkpoint)
    if hasattr(process, "unpersist_eval"):
        query.unpersist_eval = process.unpersist_eval
    return query


def streaming_minhash_candidates(
    stream: DataFrame,
    store_dir: str,
    pairs_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    compact_every: int | None = None,
):
    """Start a streaming query emitting LSH candidate pairs incrementally.
    Returns the StreamingQuery; results land in ``pairs_dir`` (parquet,
    columns id_a/id_b), signatures accumulate in ``store_dir``.
    ``compact_every`` folds both directories every N batches (see
    auto_compacting)."""
    process = make_minhash_batch_processor(
        stream.sparkSession, store_dir, pairs_dir, text_col, id_col, n
    )
    return _start(
        stream, process, checkpoint,
        [(os.path.join(store_dir, "signatures"), ()), (pairs_dir, ())],
        compact_every,
    )


def make_minhash_batch_processor(
    spark,
    store_dir: str,
    pairs_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
):
    """The foreachBatch body, exposed for direct testing (idempotency under
    batch replay is part of the contract). The signature store commits
    last."""
    sig_store = os.path.join(store_dir, "signatures")

    @_commit_last(spark, sig_store)
    def process(batch_df: DataFrame, batch_id: int, old) -> None:
        sigs = D.minhash_signatures(batch_df, text_col, id_col, n).persist()
        try:
            # pairs inside this micro-batch, deduplicated once by the
            # write's distinct (minhash_lsh_candidates' own distinct would
            # add a shuffle job per batch)
            pairs = D._band_join(sigs, sigs, id_col).filter(
                F.col("id_a") < F.col("id_b")
            )
            if old is not None:
                # pairs against everything seen before; id_a != id_b guards
                # self-pairs if a doc id ever recurs across batches
                across = (
                    D._band_join(sigs, old, id_col)
                    .filter(F.col("id_a") != F.col("id_b"))
                    .select(
                        F.least("id_a", "id_b").alias("id_a"),
                        F.greatest("id_a", "id_b").alias("id_b"),
                    )
                )
                pairs = pairs.unionByName(across)
            _write_batch(pairs.distinct(), pairs_dir, batch_id)
            _write_batch(sigs, sig_store, batch_id)
        finally:
            sigs.unpersist()

    return process


def auto_compacting(
    process,
    spark,
    dirs: "list[tuple[str, tuple[str, ...]]]",
    compact_every: int | None,
):
    """Wrap a foreachBatch processor with periodic store compaction (r9):
    after every ``compact_every``-th committed batch, each listed
    ``(store_dir, extra_partition_cols)`` folds via compact_batch_store —
    a long-running stream does its own small-files maintenance instead of
    depending on an external job. ``compact_every=None`` returns the
    processor unchanged.

    Replay safety: compaction runs AFTER the processor committed the
    batch and keeps that newest batch partition real, so a crash-replay
    of the last batch still finds its own partition (dedup stores' skip
    check) or dynamically overwrites it (ANN). A crash BETWEEN the
    compacted write and the folded-directory delete leaves duplicates
    that the NEXT compaction's full-row dropDuplicates removes — the same
    write-before-delete convergence contract as a manual fold, stretched
    across one compaction interval.

    The wrapped processor keeps the inner processor's attributes
    (functools.wraps copies __dict__) — r11 advice: the decontamination
    processors hang their cached eval table's release handle off
    ``process.unpersist_eval``, and the compact_every wrapper used to
    drop it, pinning the cache for the session lifetime."""
    if not compact_every:
        return process
    every = int(compact_every)

    @functools.wraps(process)
    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        process(batch_df, batch_id)
        if (int(batch_id) + 1) % every != 0:
            return
        # Data pre-check instead of swallowing AnalysisException (r10,
        # advisor; widened r11): a store legitimately has nothing to
        # compact when every batch so far was empty — and "empty" has
        # TWO shapes: the directory doesn't exist yet, or a zero-row
        # partitionBy write created the directory with a _SUCCESS marker
        # and no batch_id=* partitions (the normal case for a clean
        # batch's contamination report or a no-pairs dedup batch), where
        # spark.read.parquet would raise UNABLE_TO_INFER_SCHEMA. Both
        # shapes skip and say so; a genuinely failing compaction (schema
        # corruption, column resolution) must PROPAGATE and fail the
        # stream, not silently disable small-files maintenance for the
        # stream's lifetime.
        for d, extra in dirs:
            if not _store_has_batches(spark, d):
                _LOG.info(
                    "auto_compacting: store %s has no batch partitions "
                    "yet at batch %s; skipping this compaction tick",
                    d, batch_id,
                )
                continue
            compact_batch_store(spark, d, extra_partition_cols=tuple(extra))

    return wrapped


def _store_has_batches(spark, store_dir: str) -> bool:
    """True iff ``store_dir`` exists AND holds at least one ``batch_id=*``
    partition directory — i.e. some batch has actually committed rows.
    Every store this module compacts is batch_id-partitioned at the top
    level, so this is exactly the "is there anything to fold" predicate;
    a bare directory containing only a _SUCCESS marker (a zero-row
    partitionBy write) counts as not-yet-created. Hadoop FS API, so it
    holds on local/HDFS/s3a alike.

    Layout guard (r11 advice): every store this module compacts writes
    ``partitionBy("batch_id", *extra)`` — batch_id OUTERMOST — so a
    top-level ``something_else=*`` partition directory here means a
    future store changed the layout without updating this predicate,
    and compaction would silently never run for the stream's lifetime.
    That shape logs a WARNING (and still returns False — compacting an
    unexpected layout blind would be worse), distinct from the routine
    INFO skip for a genuinely empty store."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return False
    glob = jvm.org.apache.hadoop.fs.Path(
        store_dir.rstrip("/") + "/batch_id=*"
    )
    matches = fs.globStatus(glob)
    if matches is not None and len(matches) > 0:
        return True
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if st.isDirectory() and "=" in name:
            _LOG.warning(
                "auto_compacting: store %s has partition directories "
                "(e.g. %s) but none named batch_id=* — the store is not "
                "batch_id-outermost-partitioned and will NEVER be "
                "auto-compacted by this stream",
                store_dir, name,
            )
            break
    return False


def streaming_exact_dedup(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """Incremental EXACT dedup at ingest: only first-seen document contents
    (by md5) survive to ``out_dir``. Complements streaming MinHash (near
    dups) the way exact_dedup complements minhash_dedup_pairs in batch.

    The accumulated state is one md5 per distinct content — far smaller
    than the corpus and unbounded-watermark-free by design (content
    equality has no event-time horizon). The hash store commits last.
    ``compact_every`` folds both directories every N batches (see
    auto_compacting)."""
    process = make_exact_dedup_batch_processor(
        stream.sparkSession, store_dir, out_dir, text_col, id_col
    )
    return _start(
        stream, process, checkpoint,
        [(out_dir, ()), (os.path.join(store_dir, "content_md5"), ())],
        compact_every,
    )


def make_exact_dedup_batch_processor(
    spark,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    hash_store = os.path.join(store_dir, "content_md5")

    @_commit_last(spark, hash_store)
    def process(batch_df: DataFrame, batch_id: int, old) -> None:
        hashed = batch_df.withColumn("__md5", F.md5(F.col(text_col)))
        # batch-internal canonical pick: min id per content
        w_min = hashed.groupBy("__md5").agg(F.min(id_col).alias("__keep"))
        firsts = hashed.join(w_min, "__md5").filter(
            F.col(id_col) == F.col("__keep")
        ).drop("__keep")
        if old is not None:
            firsts = firsts.join(
                old.select(F.col("content_md5").alias("__md5")), "__md5", "left_anti"
            )
        _write_batch(firsts.drop("__md5"), out_dir, batch_id)
        _write_batch(
            firsts.select(F.col("__md5").alias("content_md5")), hash_store, batch_id
        )

    return process


def streaming_paragraph_dedup(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_regex: str = r"\n{2,}",
    joiner: str = "\n\n",
    compact_every: int | None = None,
):
    """Incremental PARAGRAPH-level dedup at ingest (round 6, verdict #7):
    each arriving document is rewritten keeping only paragraphs never
    seen before — within the batch, first (id, para_idx) occurrence wins
    (same order rule as batch ``paragraph_dedup``); across batches, the
    accumulated paragraph-md5 store decides. Docs left with zero novel
    paragraphs are dropped, matching the batch rebuild.

    State is one md5 per distinct paragraph — boilerplate-heavy corpora
    keep it far below corpus size, and content identity has no event-time
    horizon so no watermark applies. The hash store commits last. For an
    id-ordered replay of a static corpus the output is pinned equal to
    batch ``paragraph_dedup_rebuild`` (tests). ``compact_every`` folds
    both directories every N batches (see auto_compacting)."""
    process = make_paragraph_dedup_batch_processor(
        stream.sparkSession, store_dir, out_dir, text_col, id_col, sep_regex, joiner
    )
    return _start(
        stream, process, checkpoint,
        [(out_dir, ()), (os.path.join(store_dir, "paragraph_md5"), ())],
        compact_every,
    )


def make_paragraph_dedup_batch_processor(
    spark,
    store_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_regex: str = r"\n{2,}",
    joiner: str = "\n\n",
):
    hash_store = os.path.join(store_dir, "paragraph_md5")

    @_commit_last(spark, hash_store)
    def process(batch_df: DataFrame, batch_id: int, old) -> None:
        # within-batch first occurrence by (id, para_idx) — the batch rule
        marked = D.paragraph_dedup(batch_df, text_col, id_col, sep_regex)
        kept = marked.filter(F.col("keep")).withColumn("__pmd5", F.md5("para"))
        if old is not None:
            kept = kept.join(
                old.select(F.col("paragraph_md5").alias("__pmd5")),
                "__pmd5",
                "left_anti",
            )
        rebuilt = kept.groupBy(id_col).agg(D._rebuild_text_agg(text_col, joiner))
        _write_batch(rebuilt, out_dir, batch_id)
        # kept paragraphs are distinct by construction (first occurrence
        # within batch, anti-joined against the store)
        _write_batch(
            kept.select(F.col("__pmd5").alias("paragraph_md5")), hash_store, batch_id
        )

    return process


# ---------------------------------------------------------------------------
# Streaming LM scoring: score arriving micro-batches against a FROZEN
# language model (the CCNet production shape — the LM never changes while
# the corpus streams in). Stateless per batch given the model, so a replay
# overwrites its own partition; inside foreachBatch each batch is a plain
# DataFrame, so the batch scorer (and its window engine) applies
# unchanged. For a pure streaming plan (no foreachBatch) use score_* with
# engine='array' — grams are built per-row from the token array, no window
# function, stream-legal.
# ---------------------------------------------------------------------------


def make_lm_score_batch_processor(
    spark,
    lm,
    out_dir: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    alpha: float = 0.4,
):
    """foreachBatch processor scoring each micro-batch with a frozen
    NgramLM or ArpaLM (llm/ngram_lm.py) into a score store. Pinned equal
    to batch scoring on replay in tests."""
    from ..llm.ngram_lm import ArpaLM, score_arpa, score_ngram_lm

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        if isinstance(lm, ArpaLM):
            scored = score_arpa(batch_df, lm, tokens_col, id_col)
        else:
            scored = score_ngram_lm(batch_df, lm, tokens_col, id_col, alpha=alpha)
        _write_batch(scored, out_dir, batch_id)

    return process


def streaming_lm_score(
    stream_df: DataFrame,
    lm,
    out_dir: str,
    checkpoint_dir: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """readStream -> frozen-LM scoring -> partitioned parquet scores.
    ``compact_every`` folds the score store every N batches (see
    auto_compacting)."""
    proc = make_lm_score_batch_processor(
        stream_df.sparkSession, lm, out_dir, tokens_col, id_col
    )
    return _start(stream_df, proc, checkpoint_dir, [(out_dir, ())], compact_every)


def make_dsir_weight_batch_processor(
    spark,
    llr_table: list[tuple[int, int]],
    out_dir: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    buckets: int = 4096,
    max_n: int = 2,
):
    """foreachBatch processor scoring each micro-batch's DSIR importance
    weights against a FROZEN llr table (llm/dsir.py — the model is fit
    once offline, batches are weighted as they arrive) into a score
    store. The featurization is the stream-legal gram-array form (no
    window), and weights are exact BIGINT sums, so streamed scores are
    bit-equal to batch scores (test-pinned)."""
    from ..llm.dsir import dsir_weights, hashed_ngram_features

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        feats = hashed_ngram_features(batch_df, tokens_col, id_col, buckets, max_n)
        _write_batch(dsir_weights(feats, llr_table, id_col), out_dir, batch_id)

    return process


def streaming_dsir_weights(
    stream_df: DataFrame,
    llr_table: list[tuple[int, int]],
    out_dir: str,
    checkpoint_dir: str,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    buckets: int = 4096,
    max_n: int = 2,
    compact_every: int | None = None,
):
    """readStream -> frozen-llr DSIR weighting -> partitioned parquet.
    ``compact_every`` folds the score store every N batches (see
    auto_compacting)."""
    proc = make_dsir_weight_batch_processor(
        stream_df.sparkSession, llr_table, out_dir, tokens_col, id_col,
        buckets, max_n,
    )
    return _start(stream_df, proc, checkpoint_dir, [(out_dir, ())], compact_every)


# ---------------------------------------------------------------------------
# Streaming decontamination against FROZEN eval-suite artifacts (r10 — the
# daily-crawl shape: the eval suite is versioned and prebuilt ONCE via
# llm/decontaminate.write_eval_gram_table + build_gram_bloom/
# save_gram_bloom; batches are checked as they arrive, no per-batch eval
# scan). A doc's grams all live in its own batch, so the union of
# per-batch outputs EQUALS the batch operator over the whole replayed
# corpus (pinned in tests and by the driver oracle). Every store here
# stamps ``src_batch``.
# ---------------------------------------------------------------------------


def _eval_gram_table(
    spark,
    eval_grams_dir: str,
    n: int,
    normalize: bool,
    bloom: "bytes | None",
    bloom_k: int,
    attributed: bool = False,
    check=None,
):
    """The frozen eval gram table and its optional Bloom prefilter UDF, as
    ``(table, might)``.

    The stored table's (n, normalize, attributed) sidecar is validated
    first: a mismatch means disjoint hash spaces and a silently empty
    result, so it fails loudly here; ``check(table)`` validates further
    before anything is cached. ``bloom=None`` is the small-table regime:
    the table is cached here (r10 verdict #6: a long-running stream
    otherwise re-scans the parquet every micro-batch; ``table.unpersist``
    releases it) and the caller broadcast-hints it, so a micro-batch's
    verify join never falls back to a shuffle. A bloom says the table is
    beyond broadcast — too big to pin in executor memory — so it is
    neither cached nor hinted (AQE sizes the join) and the map-side
    prefilter, zero false negatives, cuts the join input instead. The
    filter UDF is built once here, so the bitmap ships per executor
    rather than re-pickled into every batch's task binary."""
    from ..llm.decontaminate import bloom_might_contain_udf, check_eval_gram_meta

    check_eval_gram_meta(spark, eval_grams_dir, n, normalize, attributed=attributed)
    table = spark.read.parquet(eval_grams_dir)
    if check is not None:
        check(table)
    might = bloom_might_contain_udf(bloom, bloom_k) if bloom else None
    if might is None:
        table = table.cache()
    return table, might


def _gram_count_processor(
    table, might, out_dir, text_col, id_col, n, normalize, keys, count_col
):
    """Per micro-batch: gram the batch (one narrow scan), prefilter with
    ``might``, exact-verify against ``table`` and write the distinct
    matched-gram count per ``keys`` group."""
    from ..llm.decontaminate import _gram_table

    eval_grams = F.broadcast(table) if might is None else table

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        grams = _gram_table(batch_df, text_col, id_col, n, "gram", normalize)
        if might is not None:
            grams = grams.filter(might(F.col("gram")))
        counts = grams.join(eval_grams, "gram").groupBy(*keys).agg(
            F.count_distinct("gram").alias(count_col)
        )
        _write_batch(counts, out_dir, batch_id, provenance=True)

    process.unpersist_eval = table.unpersist
    return process


def make_decontaminate_batch_processor(
    spark,
    eval_grams_dir: str,
    out_dir: str,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    normalize: bool = False,
):
    """foreachBatch processor producing each micro-batch's contamination
    report — (doc_id, n_matched_grams) rows — against a frozen
    write_eval_gram_table artifact, optionally Bloom-prefiltered (see
    _eval_gram_table for the two eval-side regimes; with a bloom the
    verify join still reads the SAME stored table, so correctness is
    sizing-independent). ``process.unpersist_eval()`` releases the
    no-bloom regime's cached table when the stream stops."""
    table, might = _eval_gram_table(
        spark, eval_grams_dir, n, normalize, bloom, bloom_k
    )
    return _gram_count_processor(
        table, might, out_dir, text_col, id_col, n, normalize,
        (id_col,), "n_matched_grams",
    )


def make_decontaminate_spans_batch_processor(
    spark,
    eval_grams_dir: str,
    out_dir: str,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    normalize: bool = False,
):
    """foreachBatch processor REWRITING each micro-batch with its
    contaminated token spans cut out (llm/decontaminate's span
    machinery against the stored distinct gram-hash table — the
    surgical streaming form: keep the clean remainder of every doc
    instead of only reporting). Docs that were wholly contamination are
    absent, untouched docs pass through whitespace-normalized (the
    rewrite contract). ``bloom``: optional prefilter for beyond-broadcast
    gram tables, same contract (and same parameter position) as the
    report processor — zero false negatives, intervals unchanged.

    ``normalize`` (r11): per-token-normalized matching — cut spans that
    leak the eval set through case/punctuation perturbation while still
    rewriting the batch's RAW tokens (contaminated_span_intervals'
    normalize path). The stored gram table must have been written with
    the SAME normalize setting."""
    from ..llm.decontaminate import contaminated_span_intervals
    from ..llm.dedup import remove_interval_tokens

    eval_grams, might = _eval_gram_table(
        spark, eval_grams_dir, n, normalize, bloom, bloom_k
    )

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        iv = contaminated_span_intervals(
            batch_df, None, text_col, id_col, n=n, eval_grams=eval_grams,
            gram_filter=might, broadcast_eval=might is None,
            normalize=normalize,
        )
        clean = remove_interval_tokens(batch_df, iv, text_col, id_col)
        _write_batch(clean, out_dir, batch_id, provenance=True)

    process.unpersist_eval = eval_grams.unpersist
    return process


def make_attribution_batch_processor(
    spark,
    eval_grams_dir: str,
    out_dir: str,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    normalize: bool = False,
):
    """foreachBatch processor producing per-(doc, eval) contamination
    ATTRIBUTION against a frozen ATTRIBUTED gram table (r12 —
    write_eval_gram_table(eval_id=...), distinct (eval_id, gram) rows):
    (doc_id, eval_id, n_shared_grams) rows, whose union over the batches
    EQUALS contamination_attribution over the replayed corpus (pinned in
    tests).

    The sidecar check requires attributed=True — a plain gram table has
    no eval_id to attribute to and fails loudly here. Eval-side regimes
    as the report processor; the bloom ignores eval_id, so attribution
    rows are unchanged by it."""

    def check(table: DataFrame) -> None:
        if "gram" not in table.columns or len(table.columns) != 2:
            raise ValueError(
                f"attribution needs an attributed (eval_id, gram) table; "
                f"{eval_grams_dir} has columns {table.columns}"
            )
        eval_id_col = next(c for c in table.columns if c != "gram")
        # r12 advice: 'batch_id'/'src_batch' would be silently OVERWRITTEN
        # by the store's batch columns — corrupting both the attribution
        # output and the partition layout — and 'n_shared_grams' would
        # collide with the aggregate alias; reject all of them with the
        # same rewrite-the-artifact remedy as a corpus-id collision.
        if eval_id_col == id_col or eval_id_col in (
            "batch_id", "src_batch", "n_shared_grams"
        ):
            raise ValueError(
                f"the attributed table's id column {eval_id_col!r} collides "
                f"with the corpus id column {id_col!r} or a reserved store "
                "column (batch_id/src_batch/n_shared_grams) — rewrite the "
                "artifact with a distinct eval_id name (e.g. eval_id)"
            )

    table, might = _eval_gram_table(
        spark, eval_grams_dir, n, normalize, bloom, bloom_k,
        attributed=True, check=check,
    )
    eval_id_col = next(c for c in table.columns if c != "gram")
    return _gram_count_processor(
        table, might, out_dir, text_col, id_col, n, normalize,
        (id_col, eval_id_col), "n_shared_grams",
    )


def streaming_attribution(
    stream_df: DataFrame,
    eval_grams_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    compact_every: int | None = None,
    normalize: bool = False,
):
    """readStream -> per-batch contamination attribution against a frozen
    ATTRIBUTED gram table -> partitioned parquet (see
    make_attribution_batch_processor). The returned query carries
    ``unpersist_eval``; ``compact_every`` folds the store."""
    proc = make_attribution_batch_processor(
        stream_df.sparkSession, eval_grams_dir, out_dir, bloom, bloom_k,
        text_col, id_col, n, normalize,
    )
    return _start(stream_df, proc, checkpoint_dir, [(out_dir, ())], compact_every)


def attribution_store_summary(
    spark,
    store_dir: str,
    eval_id_col: str = "eval_id",
    corpus_id: str = "doc_id",
) -> DataFrame:
    """The per-suite overlap table folded from a LIVE attribution store
    (r13): the read-side reporting fold that turns the batch_id-
    partitioned (doc, eval/suite, n_shared_grams) rows a
    streaming_attribution store accumulates into exactly the
    contamination_overlap_summary shape (n_contaminated_docs /
    total_shared_grams / max_shared_grams per eval id) — the dashboard
    query over an always-on decontamination monitor, no re-scan of any
    corpus text.

    Correctness rides the store's composition invariant (the
    streaming_attribution_replay argument): a doc's grams live wholly
    in its own micro-batch, so the store holds each (doc, eval) row
    exactly once with its full count and the fold over store rows
    EQUALS the batch summary over the replayed corpus (pinned in
    tests and by the driver oracle). Scale shape: one aggregation over
    the hits-sized store, eval-cardinality output; partition-column
    reads (batch_id/src_batch) are excluded from the fold, and
    compaction (auto_compacting) never changes row content, only
    layout, so the summary is compaction-invariant."""
    df = spark.read.parquet(store_dir)
    missing = {eval_id_col, corpus_id, "n_shared_grams"} - set(df.columns)
    if missing:
        raise ValueError(
            f"attribution store {store_dir} lacks column(s) "
            f"{sorted(missing)}: expected the "
            f"({corpus_id}, {eval_id_col}, n_shared_grams) rows a "
            "streaming_attribution processor writes — is this a plain "
            "(anonymous) decontamination store?"
        )
    return df.groupBy(eval_id_col).agg(
        F.count_distinct(corpus_id).alias("n_contaminated_docs"),
        F.sum("n_shared_grams").alias("total_shared_grams"),
        F.max("n_shared_grams").alias("max_shared_grams"),
    )


def make_fuzzy_decontaminate_batch_processor(
    spark,
    eval_fuzzy_dir: str,
    out_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    normalize: bool = False,
    engine: str = "broadcast",
):
    """foreachBatch processor producing FUZZY (MinHash-LSH near-dup)
    contamination pairs against a frozen write_eval_fuzzy_table artifact
    (r13 — the streaming twin of llm/decontaminate.
    fuzzy_contamination_pairs, same banded-candidates -> exact-verify
    core via _fuzzy_pairs_against): each micro-batch's docs are banded
    against the stored (eval_id, shingles, signature) table and
    (doc_id, eval_id, jaccard) rows land in the store. A doc's shingles
    live wholly in its own batch, so the union of per-batch outputs
    EQUALS the batch pairs over the replayed corpus (pinned in tests).

    The sidecar check requires a _fuzzy_meta.json with matching
    shingle settings AND banding geometry — a gram table (a different
    artifact kind) or a stale-geometry artifact fails loudly. The
    eval table is cached + its broadcasts are eval-sized;
    ``process.unpersist_eval()`` releases the cache.

    ``engine``: 'broadcast' (default) / 'shuffle' / 'auto' with the
    batch semantics (fuzzy_contamination_pairs). 'auto' runs
    pick_fuzzy_engine's probe ONCE here at build time against the
    cached artifact — never per micro-batch — so every batch plans
    with the same resolved engine."""
    from ..llm.decontaminate import (
        _fuzzy_pairs_against,
        check_eval_fuzzy_meta,
        pick_fuzzy_engine,
    )

    if threshold <= 0:
        raise ValueError(
            "fuzzy decontamination requires threshold > 0 (see "
            "llm/decontaminate.fuzzy_contamination_pairs)"
        )
    check_eval_fuzzy_meta(spark, eval_fuzzy_dir, n, normalize)
    eval_cached = spark.read.parquet(eval_fuzzy_dir)
    extra = set(eval_cached.columns) - {"shingles", "signature"}
    if (
        len(extra) != 1
        or {"shingles", "signature"} - set(eval_cached.columns)
    ):
        raise ValueError(
            f"fuzzy eval artifact needs (eval_id, shingles, signature) "
            f"columns; {eval_fuzzy_dir} has {eval_cached.columns}"
        )
    eval_id_col = next(iter(extra))
    if eval_id_col == id_col or eval_id_col in (
        "batch_id", "src_batch", "jaccard"
    ):
        raise ValueError(
            f"the fuzzy artifact's id column {eval_id_col!r} collides "
            f"with the corpus id column {id_col!r} or a reserved store "
            "column (batch_id/src_batch/jaccard) — rewrite the artifact "
            "with a distinct eval_id name (e.g. eval_id)"
        )
    eval_cached = eval_cached.cache()
    if engine == "auto":
        engine = pick_fuzzy_engine(eval_cached)

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        pairs = _fuzzy_pairs_against(
            batch_df, eval_cached, text_col, id_col, eval_id_col, n,
            threshold, normalize, engine=engine,
        )
        _write_batch(pairs, out_dir, batch_id, provenance=True)

    process.unpersist_eval = eval_cached.unpersist
    return process


def streaming_fuzzy_decontaminate(
    stream_df: DataFrame,
    eval_fuzzy_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    compact_every: int | None = None,
    normalize: bool = False,
    engine: str = "broadcast",
):
    """readStream -> per-batch fuzzy contamination pairs against a
    frozen write_eval_fuzzy_table artifact -> partitioned parquet (see
    make_fuzzy_decontaminate_batch_processor; ``engine`` passes
    through, 'auto' resolved once at build time). The returned query
    carries ``unpersist_eval``; ``compact_every`` folds the store."""
    proc = make_fuzzy_decontaminate_batch_processor(
        stream_df.sparkSession, eval_fuzzy_dir, out_dir, threshold,
        text_col, id_col, n, normalize, engine,
    )
    return _start(stream_df, proc, checkpoint_dir, [(out_dir, ())], compact_every)


def make_decontaminate_spans_policy_batch_processor(
    spark,
    eval_grams_dir: str,
    out_dir: str,
    max_frac: float = 0.5,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    normalize: bool = False,
):
    """foreachBatch processor applying the ``max_frac`` threshold POLICY
    (r11 verdict #4: the batch side had decontaminate_spans_policy, the
    stream had no policy at all): per micro-batch, a doc whose
    contaminated token fraction exceeds ``max_frac`` is dropped whole —
    past some point the doc mostly IS eval content — while docs at or
    under it are span-cut surgically, into the same store shape as the
    spans processor.

    One code path with batch: each micro-batch runs
    llm/decontaminate.decontaminate_spans_policy itself (the eval-side
    passthrough added for exactly this), so the streaming policy cannot
    drift from the batch policy — and since a doc's grams AND its token
    count live wholly in its own micro-batch, the union of per-batch
    outputs EQUALS the batch policy over the replayed corpus (pinned in
    tests and by the driver replay query
    streaming_decontaminate_policy_replay). The per-batch lazy
    localCheckpoint inside the policy keeps the batch's positional gram
    pass single-run across the filter and rewrite branches; the
    checkpointed interval RDD is hits-sized and released by the context
    cleaner once the batch's reference drops. Eval-side regimes exactly
    as the spans processor (see _eval_gram_table)."""
    from ..llm.decontaminate import decontaminate_spans_policy

    eval_grams, might = _eval_gram_table(
        spark, eval_grams_dir, n, normalize, bloom, bloom_k
    )

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        clean = decontaminate_spans_policy(
            batch_df, None, max_frac, text_col, id_col, n=n,
            normalize=normalize, eval_grams=eval_grams, gram_filter=might,
            broadcast_eval=might is None,
        )
        _write_batch(clean, out_dir, batch_id, provenance=True)

    process.unpersist_eval = eval_grams.unpersist
    return process


def streaming_decontaminate_spans_policy(
    stream_df: DataFrame,
    eval_grams_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_frac: float = 0.5,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    compact_every: int | None = None,
    normalize: bool = False,
):
    """readStream -> per-batch max_frac span policy -> partitioned
    parquet (see make_decontaminate_spans_policy_batch_processor).
    The returned query carries ``unpersist_eval`` (r11 advice: the
    cached eval table's release handle was unreachable from the
    high-level entry points) — call it after awaitTermination to
    release the no-bloom regime's cached gram table."""
    proc = make_decontaminate_spans_policy_batch_processor(
        stream_df.sparkSession, eval_grams_dir, out_dir, max_frac, bloom,
        bloom_k, text_col, id_col, n, normalize,
    )
    return _start(stream_df, proc, checkpoint_dir, [(out_dir, ())], compact_every)


def streaming_decontaminate_spans(
    stream_df: DataFrame,
    eval_grams_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    compact_every: int | None = None,
    normalize: bool = False,
):
    """readStream -> per-batch contaminated-span rewrite -> partitioned
    parquet (see make_decontaminate_spans_batch_processor; bloom sits in
    the same parameter position as streaming_decontaminate's).
    ``normalize`` (r11): per-token-normalized matching against a
    normalize=True gram table, raw-token rewrite. The returned query
    carries ``unpersist_eval``; ``compact_every`` folds the store every
    N batches."""
    proc = make_decontaminate_spans_batch_processor(
        stream_df.sparkSession, eval_grams_dir, out_dir, bloom, bloom_k,
        text_col, id_col, n, normalize,
    )
    return _start(stream_df, proc, checkpoint_dir, [(out_dir, ())], compact_every)


def streaming_decontaminate(
    stream_df: DataFrame,
    eval_grams_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    normalize: bool = False,
    compact_every: int | None = None,
):
    """readStream -> frozen-eval-artifact contamination reports ->
    partitioned parquet (see make_decontaminate_batch_processor).
    ``normalize`` must match the stored gram table's setting. The
    returned query carries ``unpersist_eval``; ``compact_every`` folds
    the report store every N batches (see auto_compacting)."""
    proc = make_decontaminate_batch_processor(
        stream_df.sparkSession, eval_grams_dir, out_dir, bloom, bloom_k,
        text_col, id_col, n, normalize,
    )
    return _start(stream_df, proc, checkpoint_dir, [(out_dir, ())], compact_every)


def make_media_dedup_batch_processor(
    spark,
    store_dir: str,
    out_dir: str,
    kind: str = "image",
    media_col: str = "media",
    id_col: str = "doc_id",
):
    """foreachBatch processor for incremental perceptual media dedup:
    each arriving blob reduces to its 8-byte signature (image dHash or
    audio energy-delta fingerprint — identical to the batch tables, so a
    blob's signature is the same either way), first-seen signatures
    survive to ``out_dir`` and accumulate in the signature store, which
    commits last.

    State is (sig_hi, sig_lo) per distinct signature — two BIGINTs per
    kept item, never the media bytes. NEAR-duplicate mining stays a
    batch job over the accumulated store (hash64_near_pairs reads just
    the signatures), exactly as exact Jaccard verification does for the
    streaming MinHash store."""
    from ..llm.multimodal import audio_fingerprint_table, image_dhash_table

    sig_store = os.path.join(store_dir, "media_sigs")
    if kind == "image":
        sig_table, hi, lo = image_dhash_table, "dhash_hi", "dhash_lo"
    elif kind == "audio":
        sig_table, hi, lo = audio_fingerprint_table, "afp_hi", "afp_lo"
    else:
        raise ValueError(f"kind must be 'image' or 'audio', not {kind!r}")

    @_commit_last(spark, sig_store)
    def process(batch_df: DataFrame, batch_id: int, old) -> None:
        sigs = sig_table(batch_df, id_col, media_col).select(
            F.col("id").alias(id_col),
            F.col(hi).alias("sig_hi"),
            F.col(lo).alias("sig_lo"),
        )
        # batch-internal canonical pick: min id per signature
        keep = sigs.groupBy("sig_hi", "sig_lo").agg(F.min(id_col).alias("__keep"))
        firsts = sigs.join(keep, ["sig_hi", "sig_lo"]).filter(
            F.col(id_col) == F.col("__keep")
        ).drop("__keep")
        if old is not None:
            firsts = firsts.join(
                old.select("sig_hi", "sig_lo"), ["sig_hi", "sig_lo"], "left_anti"
            )
        # the signature table re-decodes the media; pin it so the two
        # writes below (kept rows, then the commit-last store) decode
        # each batch once, not twice
        firsts = firsts.persist()
        try:
            kept = batch_df.join(firsts.select(id_col), id_col)
            _write_batch(kept, out_dir, batch_id)
            _write_batch(firsts.select("sig_hi", "sig_lo"), sig_store, batch_id)
        finally:
            firsts.unpersist()

    return process


def streaming_media_dedup(
    stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint: str,
    kind: str = "image",
    media_col: str = "media",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """Incremental perceptual media dedup at ingest: only first-seen
    signatures (image dHash / audio fingerprint) survive to ``out_dir``.
    The streaming counterpart of image_dhash_table/audio_fingerprint_table
    + exact-signature keep — the media analogue of streaming_exact_dedup.
    ``compact_every`` folds both directories every N batches (see
    auto_compacting)."""
    process = make_media_dedup_batch_processor(
        stream.sparkSession, store_dir, out_dir, kind, media_col, id_col
    )
    return _start(
        stream, process, checkpoint,
        [(out_dir, ()), (os.path.join(store_dir, "media_sigs"), ())],
        compact_every,
    )


def streaming_scene_cuts(
    frame_hashes: DataFrame, threshold: int = 8, id_col: str = "id"
):
    """Scene-cut detection as a CUSTOM STATEFUL streaming operator
    (applyInPandasWithState): the state per video is one prior
    (frame_idx, dhash_hi, dhash_lo) triple — 24 bytes, exactly the
    batch window's per-key state — so an unbounded frame stream emits
    (id, frame_idx, hamming, is_cut) rows incrementally with no
    watermark needed (the comparison has no event-time horizon, only
    sequence order). Requires frames of a video to arrive in
    frame_idx order across micro-batches, which a decode pipeline
    produces by construction; within a batch rows are sorted. Emits the
    same rows as the batch video_scene_cuts on an ordered replay
    (pinned by test)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    thr = int(threshold)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            last_idx, hi, lo = state.get
        else:
            last_idx, hi, lo = None, None, None
        rows = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("frame_idx")
        for _, r in pdf.iterrows():
            fi, fhi, flo = int(r["frame_idx"]), int(r["dhash_hi"]), int(r["dhash_lo"])
            if last_idx is not None:
                ham = bin((fhi ^ hi) | ((flo ^ lo) << 32)).count("1")
                rows.append(
                    {
                        id_col: key[0],
                        "frame_idx": fi,
                        "hamming": ham,
                        "is_cut": ham > thr,
                    }
                )
            last_idx, hi, lo = fi, fhi, flo
        state.update((last_idx, hi, lo))
        yield pd.DataFrame(
            rows,
            columns=[id_col, "frame_idx", "hamming", "is_cut"],
        )

    return frame_hashes.groupBy(id_col).applyInPandasWithState(
        update,
        outputStructType=f"{id_col} bigint, frame_idx int, hamming bigint, is_cut boolean",
        stateStructType="last_idx bigint, hi bigint, lo bigint",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def make_classify_batch_processor(
    spark,
    out_dir: str,
    centroids: dict,
    embedder,
    media_col: str = "media",
    id_col: str = "doc_id",
):
    """foreachBatch processor for streaming media CLASSIFICATION: each
    micro-batch's blobs embed (any ml/cnn or injected embedder) and score
    against the broadcast centroid table inside Arrow batches; per-row
    (id, label) rows land in the label store — the stateless-inference
    member of the streaming-store family."""
    from ..ml.deeplearn import classify_images

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        labeled = classify_images(
            batch_df, media_col, centroids, top_n=1, embedder=embedder
        )
        _write_batch(
            labeled.select(F.col(id_col), F.get("labels", 0)["label"].alias("label")),
            out_dir, batch_id,
        )

    return process


def streaming_classify(
    stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    centroids: dict,
    embedder,
    media_col: str = "media",
    id_col: str = "doc_id",
    compact_every: int | None = None,
):
    """Model inference at ingest: classify every arriving media blob with
    a fixed embedder + centroid head (image CNN / audio energy-ZCR /
    video temporal-pool — all plug the same seam). Weights ride the
    closure to each executor once; only (id, label) rows persist.
    ``compact_every`` folds the label store every N batches (see
    auto_compacting)."""
    process = make_classify_batch_processor(
        stream.sparkSession, out_dir, centroids, embedder, media_col, id_col
    )
    return _start(stream, process, checkpoint, [(out_dir, ())], compact_every)


def make_ann_ingest_batch_processor(
    spark,
    index_dir: str,
    centroids: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """foreachBatch processor for STREAMING ANN-index ingestion: each
    arriving vector is assigned to the FROZEN coarse centroids (the
    incremental-append contract of append_ivf_index) and lands in a
    (batch_id, list_id)-partitioned index — a replayed batch rewrites
    exactly its own partitions (idempotent with no side markers), and
    probes keep LIST PRUNING as directory-partition pruning: a probe
    reads only ``list_id IN (probed)`` partitions across every batch
    directory. The ``src_batch`` provenance column (constant per batch,
    compresses to nothing) is what lets compaction tell a legitimate
    cross-batch duplicate row from a crash-rerun duplicate."""
    from ..llm.similarity import _as_double, _nearest_centroids

    @_per_batch
    def process(batch_df: DataFrame, batch_id: int) -> None:
        assigned = batch_df.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("nv"),
        ).withColumn(
            "list_id",
            F.element_at(_nearest_centroids(F.col("nv"), centroids, 1), 1),
        )
        _write_batch(
            assigned, index_dir, batch_id, provenance=True,
            partition_cols=("list_id",),
        )

    return process


def streaming_ann_ingest(
    stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    centroids: "list[list[float]]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
):
    """ANN index construction AT INGEST: vectors stream in, the index
    grows incrementally against frozen coarse centroids, and probes are
    possible at any moment over everything ingested so far — the
    streaming member of the IVF family (write-once -> append ->
    streaming). ``compact_every`` folds the index every N batches (see
    auto_compacting; one file per list via the list_id partition)."""
    process = make_ann_ingest_batch_processor(
        stream.sparkSession, index_dir, centroids, id_col, vec_col
    )
    return _start(
        stream, process, checkpoint, [(index_dir, ("list_id",))], compact_every
    )


def ann_probe_ingested(
    spark,
    index_dir: str,
    queries: DataFrame,
    centroids: "list[list[float]]",
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a streaming-ingested index: nearest n_probe lists per query,
    one equi-join on list_id (partition-pruned scan of the index
    directory), exact cosine over candidates, row_number top-k — the
    ivf_topk_from_index shape over the streamed layout."""
    from pyspark.sql import Window

    from ..llm.similarity import _as_double, _nearest_centroids

    idx = spark.read.parquet(index_dir)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn(
        "list_id",
        F.explode(_nearest_centroids(F.col("qv"), centroids, n_probe)),
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("nv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    scored = (
        q.join(idx, "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", dot / (norm(F.col("qv")) * norm(F.col("nv"))))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def compact_batch_store(
    spark,
    store_dir: str,
    extra_partition_cols: "tuple[str, ...]" = (),
    target_files: int | None = None,
) -> dict:
    """Fold old ``batch_id=N`` partitions of ANY batch_id-partitioned
    streaming store into ONE compacted partition (r8 verdict #3: every
    foreachBatch store in this module grows a parquet directory per
    micro-batch, a small-files bomb on a long-running stream). After
    compaction the store holds ``batch_id=COMPACT_LABEL`` plus the newest
    ``KEEP_LATEST`` real batch.

    Reader equality: consumers of these stores select named data
    columns and ignore the ``batch_id`` replay bookkeeping, so
    relabeling old partitions cannot change any result — pinned
    per-store by the store-equality tests. When ``extra_partition_cols``
    name further partition levels (the ANN index's ``list_id``),
    directory partition pruning on them is unchanged too.

    Replay idempotence: Structured Streaming only ever re-runs the
    LAST (uncommitted) batch after a crash; committed batches never
    replay. Keeping the newest real batch out of the fold therefore
    preserves the ingest contract — a replayed batch still dynamically
    overwrites exactly its own partition, and the dedup stores'
    commit-last skip check still finds its stored batch_id.
    COMPACT_LABEL is negative so it can never collide with a future
    epoch id (they start at 0 and increase).

    Crash safety (documented, non-transactional): the compacted
    partitions are written BEFORE the folded batch directories are
    deleted. A crash in between leaves duplicates that a re-run
    removes: each row's origin epoch rides the ``src_batch`` DATA
    column — stamped at ingest (ANN, decontamination) or, for stores
    without it, from the partition label here at fold time, which
    carries identical information because the partition label IS the
    origin epoch until this function relabels it. The fold's full-row
    dropDuplicates (which includes src_batch) removes exactly the
    crash-rerun copies while PRESERVING legitimate duplicates emitted in
    different epochs (those differ in src_batch — multiplicity
    preservation is pinned in tests). Known limitation (r8 ADVICE):
    identical rows a store legitimately holds twice within the SAME
    epoch collapse too — the dedup/hash stores are per-batch distinct by
    construction so this is vacuous for them, and for score stores a
    same-epoch duplicate is a re-delivered input row carrying the same
    score. The store is read with mergeSchema so a transitional mix of
    pre-provenance and provenance-carrying files cannot hide real
    src_batch values behind a src_batch-less inferred schema (r8
    ADVICE).

    File sizing: with ``extra_partition_cols`` the fold repartitions by
    them (one file per partition directory); otherwise it coalesces to
    ``target_files`` (default: the session's default parallelism —
    size it so compacted files land near your FS block size at scale).

    The folded rows are MATERIALIZED (localCheckpoint) before the
    overwrite starts: the fold reads the same directory it rewrites,
    and read-overwrite-same-path is only safe in Spark when every
    source row is off the scan before job commit — a plan-shape
    accident without the checkpoint barrier."""
    # mergeSchema: a transitional store mixing pre-provenance files (no
    # src_batch) with provenance-carrying ones must surface the column
    idx = spark.read.option("mergeSchema", "true").parquet(store_dir)
    if "src_batch" not in idx.columns:
        # pre-provenance layout: the partition label is the origin epoch
        idx = idx.withColumn("src_batch", F.col("batch_id"))
    batches = sorted(
        r["batch_id"] for r in idx.select("batch_id").distinct().collect()
    )
    real = [b for b in batches if b != COMPACT_LABEL]
    fold = real[: max(len(real) - KEEP_LATEST, 0)]
    if not fold:
        return {"folded_batches": [], "kept_batches": real}
    sources = fold + ([COMPACT_LABEL] if COMPACT_LABEL in batches else [])
    folded = (
        idx.filter(F.col("batch_id").isin([int(b) for b in sources]))
        # mixed-schema transitional reads: a pre-provenance file yields
        # null src_batch — its partition label is its origin epoch. Must
        # run BEFORE the label is dropped below.
        .withColumn("src_batch", F.coalesce(F.col("src_batch"), F.col("batch_id")))
        # the write relabels every row COMPACT_LABEL; full-row dedup incl.
        # src_batch removes crash-rerun copies only — a legitimate
        # cross-epoch duplicate differs in src_batch
        .drop("batch_id")
        .dropDuplicates()
    )
    if extra_partition_cols:
        # one task -> one file per leaf partition directory
        folded = folded.repartition(*extra_partition_cols)
    else:
        n_files = (
            int(target_files)
            if target_files is not None
            else spark.sparkContext.defaultParallelism
        )
        folded = folded.coalesce(max(n_files, 1))
    # read-overwrite-same-path barrier (see docstring)
    folded = folded.localCheckpoint()
    _write_batch(
        folded, store_dir, COMPACT_LABEL, partition_cols=extra_partition_cols
    )
    # delete the folded batch directories (Hadoop FS API: works on any
    # supported filesystem — local, HDFS, s3a)
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for b in fold:
        p = jvm.org.apache.hadoop.fs.Path(f"{store_dir}/batch_id={b}")
        p.getFileSystem(hconf).delete(p, True)
    # Invalidate cached file listings for the directory: a reader
    # DataFrame built BEFORE this compaction holds an eager file index
    # of the old layout and would hit FileNotFoundException at its next
    # action; after the refresh it re-lists and sees the (row-identical)
    # compacted layout instead.
    spark.catalog.refreshByPath(store_dir)
    return {"folded_batches": fold, "kept_batches": real[len(fold):]}


def compact_ann_index(spark, index_dir: str) -> dict:
    """Fold old batch partitions of a streaming-ingested ANN index into
    ONE compacted batch partition (r7 verdict #7) — the (batch_id,
    list_id) instance of :func:`compact_batch_store`. Probes filter on
    list_id only, so directory partition pruning is unchanged and the
    row set is preserved verbatim — pinned by the hash-match test. See
    compact_batch_store for the full replay/crash/provenance contract."""
    return compact_batch_store(spark, index_dir, extra_partition_cols=("list_id",))
