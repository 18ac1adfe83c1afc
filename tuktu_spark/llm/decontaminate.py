"""Benchmark decontamination: flag training documents that overlap an
evaluation set by long n-grams.

No reference analogue — this is a first-class training-data-pipeline
operation (the GPT-3/PaLM papers' published recipe: a training doc is
contaminated if it shares any long word n-gram, typically 13-gram, with an
eval example; public literature).

Scale design: the EVAL side is small by definition (thousands of
examples), so its n-gram hash set broadcasts; the corpus side is one
narrow shingle pass (same single-scan tokenize->shingle->hash as
llm/dedup.py) followed by a broadcast semi/inner join — the 100 TB corpus
never shuffles, and the scan reads only (id, text). Counting matches per
doc shuffles only the (doc, matched-gram) hits, which contamination makes
rare by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import tables
from .dedup import _shingles_from_tokens, _tokens


def _norm_text(col):
    """The published decontamination normalization (GPT-3 appendix C
    family): lowercase + every non-letter/digit run collapsed to one
    space, so 'The cat, sat!' and 'the cat sat' share their grams.
    UNICODE letter/digit classes, not [a-z0-9]: an ASCII-only class
    would delete all CJK/Cyrillic/accented text and turn normalize=True
    into a silent zero-recall hole on non-English corpora — the worst
    failure direction for a decontamination tool. Pure column algebra —
    stays in whole-stage codegen."""
    return F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}]+", " ")


def _gram_table(
    df: DataFrame, text_col: str, id_col, n: int, gram_alias: str,
    normalize: bool = False,
) -> DataFrame:
    """(id?, gram_hash) — one row per distinct n-gram per row of df,
    xxhash64-keyed (internal join key, never surfaced). ``normalize``
    applies _norm_text before tokenizing (both sides of a match must
    use the same setting — the hash spaces are disjoint otherwise)."""
    cols = [F.col(id_col)] if id_col else []
    text = F.col(text_col)
    if normalize:
        text = _norm_text(text)
    tokd = df.select(*cols, _tokens(text).alias("__toks"))
    grams = F.transform(
        _shingles_from_tokens(F.col("__toks"), n), lambda s: F.xxhash64(s)
    )
    return tokd.select(*cols, F.explode(grams).alias(gram_alias))


def contamination_report(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 13,
    normalize: bool = False,
) -> DataFrame:
    """(doc_id, n_matched_grams) for corpus docs sharing at least one
    word n-gram with any eval example. The eval n-gram set is broadcast;
    docs with zero overlap never leave the map stage. ``normalize``
    matches grams case- and punctuation-insensitively (the published
    GPT-3-style recipe; see _norm_text) — applied to BOTH sides."""
    eval_grams = _gram_table(
        eval_set, eval_text, None, n, "gram", normalize
    ).distinct()
    corpus_grams = _gram_table(
        corpus, corpus_text, corpus_id, n, "gram", normalize
    )
    hits = corpus_grams.join(F.broadcast(eval_grams), "gram")
    return hits.groupBy(corpus_id).agg(
        F.count_distinct("gram").alias("n_matched_grams")
    )


def contamination_attribution(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    eval_id: str = "eval_id",
    n: int = 13,
    normalize: bool = False,
) -> DataFrame:
    """(doc_id, eval_id, n_shared_grams) — WHICH eval example (or suite)
    each contaminated corpus doc leaks, not just that it leaks (r12).
    contamination_report collapses the eval side to an anonymous gram
    set; real decontamination reporting is per-benchmark (the GPT-3
    appendix-C style overlap tables are per-task), and the per-suite
    view is what decides "drop this doc for GSM8K but it's clean for
    MMLU". Pass a SUITE column as ``eval_id`` to attribute at suite
    granularity directly.

    Scale shape: the eval side still broadcasts (it now carries eval_id
    per distinct (eval_id, gram) row — a small constant factor over the
    anonymous set, same eval-sized ceiling and the same bloom/stored-
    table escape hatch applies upstream); the corpus pays the one gram
    scan, zero-overlap docs never leave the map stage, and the final
    groupBy shuffles only the HITS (doc x eval x gram matches), never
    the corpus."""
    if eval_id == corpus_id:
        raise ValueError(
            f"eval_id and corpus_id are both {eval_id!r}: the gram join "
            "output would carry two identically-named id columns — alias "
            "the eval side (e.g. F.col('doc_id').alias('eval_id'))"
        )
    eval_grams = _gram_table(
        eval_set, eval_text, eval_id, n, "gram", normalize
    ).distinct()
    corpus_grams = _gram_table(
        corpus, corpus_text, corpus_id, n, "gram", normalize
    )
    hits = corpus_grams.join(F.broadcast(eval_grams), "gram")
    return hits.groupBy(corpus_id, eval_id).agg(
        F.count_distinct("gram").alias("n_shared_grams")
    )


def fuzzy_contamination_pairs(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    eval_id: str = "eval_id",
    n: int = 3,
    threshold: float = 0.8,
    normalize: bool = False,
    engine: str = "broadcast",
) -> DataFrame:
    """FUZZY decontamination (r13): (doc_id, eval_id, jaccard) for corpus
    docs whose shingle-set Jaccard against an eval example reaches
    ``threshold`` — the near-duplicate middle ground between exact
    long-n-gram matching (contamination_report: misses lightly edited
    eval leaks) and embedding-based semantic decontamination
    (semantic_decontaminate: needs an embedder). Public recipe: the
    MinHash-LSH train/test-overlap pass of the Dolma/FineWeb-style
    curation pipelines, run BIPARTITE corpus-vs-eval instead of
    corpus-vs-corpus.

    Same candidates->exact-verify contract as minhash_dedup_pairs
    (llm/dedup.py): banding only PROPOSES (doc, eval) pairs, every
    candidate is verified with exact Jaccard over the full shingle
    sets, so output equals the exact pair set whenever banding recall
    is 1 at the threshold (the 16x4 banding misses a j>=0.8 pair with
    p <= (1-0.8^4)^16 ~ 2e-4 and a j~0.99 pair with p ~ 1e-22).

    Scale shape: the eval side is small by definition — its banded
    buckets AND its shingle arrays broadcast, so the corpus crosses no
    exchange to produce candidates (map-side broadcast join on
    (band, bucket)); verification joins the hits-sized candidate set
    back to the corpus shingles by id (AQE broadcasts the candidate
    side), never the corpus to itself. Degenerate docs (< n tokens,
    empty shingle set) are dropped on both sides exactly as the
    self-join pipeline drops them — they cannot reach any positive
    threshold and their shared sentinel signature would otherwise be a
    (corpus x eval-degenerates) hot bucket in every band.

    ``normalize`` applies the decontamination text normalization
    (_norm_text) to BOTH sides before shingling, matching
    contamination_report's normalize semantics.

    ``engine``: ``'broadcast'`` (default) force-broadcasts the eval
    side's banded buckets and shingle arrays — right whenever the eval
    suite fits the broadcast budget, which is the overwhelmingly common
    case. ``'shuffle'`` drops the forced hints so both eval joins plan
    as ordinary equi-joins (shuffle on (band, bucket) / eval_id when
    the planner's own stats say the eval side is too big, broadcast
    again if AQE disagrees) — the beyond-broadcast escape hatch, the
    fuzzy twin of the exact-gram family's engine='bloom' regime.
    ``'auto'`` runs pick_fuzzy_engine's one eval-sized probe and
    dispatches on the broadcast memory budget. Output is
    engine-independent (pinned in tests)."""
    if eval_id == corpus_id:
        raise ValueError(
            f"eval_id and corpus_id are both {eval_id!r}: the verified "
            "pair output would carry two identically-named id columns — "
            "alias the eval side (e.g. F.col('doc_id').alias('eval_id'))"
        )
    if threshold <= 0:
        raise ValueError(
            "fuzzy decontamination requires threshold > 0: at 0 every "
            "banding collision passes, which enumerates LSH buckets, not "
            "contamination"
        )

    from .dedup import minhash_signature_col

    # ONE persisted (eval_id, shingles, signature) table (optimization
    # r13, the dedup family's single-cache shape): the signature is a
    # pure column over the shingle array, so attaching it via a second
    # persist + self-join was an extra cache build and join job per run.
    eval_tbl = tables.persist(
        _fuzzy_shingled(eval_set, eval_text, eval_id, n, normalize)
        .withColumn("signature", minhash_signature_col(F.col("shingles")))
        .select(eval_id, "shingles", "signature")
    )
    if engine == "auto":
        engine = pick_fuzzy_engine(eval_tbl)
    return _fuzzy_pairs_against(
        corpus, eval_tbl, corpus_text, corpus_id, eval_id, n, threshold,
        normalize, persist=True, engine=engine,
    )


def _fuzzy_shingled(df, text_col, id_col, n, normalize):
    """(id, shingles) with the fuzzy-decontamination text treatment:
    optional _norm_text, then the dedup-family shingle pass; empty
    shingle sets dropped (degenerate docs cannot reach any positive
    threshold and would hot-bucket every band via the shared
    sentinel).

    The degenerate-doc filter runs at the TOKEN level
    (size(tokens) < n  <=>  empty shingle set, the
    _shingles_from_tokens guard) rather than as
    filter(size(shingles) > 0) over the shingle projection: Catalyst
    substitutes a filtered projection's defining expression into the
    predicate, and the shingle expression references its token array
    several times (the short-doc guard), so the substituted filter
    re-tokenized + re-hashed the corpus per reference — measured 9x on
    the sf0.1 corpus shingle pass (4.8 s -> 0.5 s from this change
    alone). The token-count predicate re-derives only the cheap
    split, and the shingle chain is evaluated exactly once."""
    from .dedup import _tokens, hashed_shingles

    text = F.col(text_col)
    if normalize:
        text = _norm_text(text)
    src = df.select(F.col(id_col), text.alias("__txt"))
    src = src.filter(F.size(_tokens(F.col("__txt"))) >= n)
    return hashed_shingles(src, "__txt", id_col, n)


def _fuzzy_pairs_against(
    corpus: DataFrame,
    eval_tbl: DataFrame,
    corpus_text: str,
    corpus_id: str,
    eval_id: str,
    n: int,
    threshold: float,
    normalize: bool,
    persist: bool = False,
    engine: str = "broadcast",
) -> DataFrame:
    """The shared fuzzy tail (batch inline AND frozen-artifact /
    streaming consumers): corpus (text) x eval (eval_id, shingles,
    signature) -> verified (corpus_id, eval_id, jaccard) pairs. The
    eval side broadcasts twice (banded buckets for candidates, shingle
    arrays for verification) — both eval-sized; the corpus produces
    candidates map-side and meets the hits-sized candidate set once by
    id.

    ``engine='shuffle'`` drops both forced broadcast hints (see
    fuzzy_contamination_pairs): the banded candidate join and the
    verification join plan from the planner's own stats — shuffle
    equi-joins once the eval side is genuinely beyond the broadcast
    budget. Candidate generation then shuffles ~corpus_docs*BANDS rows
    of 4 longs on (band, bucket) — the minhash SELF-join's exact
    shuffle shape, which is the proven at-scale path — and the verify
    join shuffles the hits-sized candidate set plus the two shingle
    tables on ids. 'auto'/'broadcast' resolution happens in the entry
    points; this tail takes only the resolved literal.

    ``persist=True`` (the batch entry point) caches the corpus shingle
    table (tables.persist, held until the next run_flow or query build):
    the corpus chain feeds BOTH the banding branch and the verification
    branch, so uncached it is tokenized + minhashed twice per action.
    The streaming processor leaves it off — its per-micro-batch corpus
    is batch-sized, and a stream has no run_flow or query build between
    batches to release the caches, so they would pile up."""
    from .dedup import (
        MERSENNE_P,
        _banded_buckets,
        minhash_signatures_from_hashed,
    )

    if engine not in ("broadcast", "shuffle"):
        raise ValueError(
            f"unknown fuzzy engine {engine!r}: expected 'broadcast' or "
            "'shuffle' (entry points resolve 'auto' before this tail)"
        )
    hint = F.broadcast if engine == "broadcast" else (lambda df: df)
    h_c = _fuzzy_shingled(corpus, corpus_text, corpus_id, n, normalize)
    if persist:
        h_c = tables.persist(h_c)
    sig_c = minhash_signatures_from_hashed(h_c, corpus_id)
    b_c = _banded_buckets(
        sig_c.filter(F.col("signature")[0] != MERSENNE_P), corpus_id
    )
    b_e = _banded_buckets(eval_tbl.select(eval_id, "signature"), eval_id)
    cands = (
        b_c.join(hint(b_e), ["band", "bucket"])
        .select(corpus_id, eval_id)
        .distinct()
    )
    sa = h_c.select(F.col(corpus_id), F.col("shingles").alias("__sa"))
    sb = hint(
        eval_tbl.select(F.col(eval_id), F.col("shingles").alias("__sb"))
    )
    common = F.size(F.array_intersect("__sa", "__sb"))
    jac = common.cast("double") / (
        F.size("__sa") + F.size("__sb") - common
    ).cast("double")
    return (
        cands.join(sa, corpus_id)
        .join(sb, eval_id)
        .select(corpus_id, eval_id, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    normalize: bool = False,
    engine: str = "broadcast",
) -> DataFrame:
    """Corpus minus fuzzily-contaminated docs (the production filter
    form of fuzzy_contamination_pairs): any doc within ``threshold``
    shingle-Jaccard of any eval example is dropped whole. Left-anti on
    the flagged id set — the corpus passes through untouched except one
    id-keyed anti join (AQE broadcasts the flagged side, which is
    hits-sized). ``engine`` passes through to
    fuzzy_contamination_pairs ('broadcast'/'shuffle'/'auto')."""
    # the pair output's eval id never surfaces here — synthesize one
    # (monotonically_increasing_id is partition-local arithmetic, no
    # shuffle; the values only need to be distinct, not stable)
    ev = eval_set.withColumn("__eval_id", F.monotonically_increasing_id())
    flagged = fuzzy_contamination_pairs(
        corpus, ev, corpus_text, corpus_id, eval_text, "__eval_id",
        n, threshold, normalize, engine,
    ).select(corpus_id).distinct()
    return corpus.join(flagged, corpus_id, "left_anti")


def contamination_overlap_summary(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    eval_id: str = "suite",
    n: int = 13,
    normalize: bool = False,
) -> DataFrame:
    """The per-SUITE overlap table decontamination reports are published
    as (the GPT-3 appendix-C shape, r13): one row per eval suite with
    ``n_contaminated_docs`` (distinct corpus docs sharing >= 1 n-gram
    with that suite), ``total_shared_grams`` (sum of per-doc distinct
    shared-gram counts) and ``max_shared_grams`` (the worst leak).
    A groupBy(suite) fold over contamination_attribution — the corpus
    still shuffles only the hits; the summary is suites-sized."""
    attr = contamination_attribution(
        corpus, eval_set, corpus_text, corpus_id, eval_text, eval_id,
        n, normalize,
    )
    return attr.groupBy(eval_id).agg(
        F.count_distinct(corpus_id).alias("n_contaminated_docs"),
        F.sum("n_shared_grams").alias("total_shared_grams"),
        F.max("n_shared_grams").alias("max_shared_grams"),
    )


def fuzzy_overlap_summary(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    eval_id: str = "eval_id",
    suite: str = "suite",
    n: int = 3,
    threshold: float = 0.8,
    normalize: bool = False,
    engine: str = "broadcast",
) -> DataFrame:
    """The per-SUITE table for FUZZY (near-dup) contamination — the
    fuzzy twin of contamination_overlap_summary, completing the
    {exact, fuzzy} x {pairs, filter, suite summary} reporting matrix
    (r13): one row per eval suite with ``n_contaminated_docs``
    (distinct corpus docs within ``threshold`` shingle-Jaccard of ANY
    of the suite's examples), ``n_flagged_pairs`` (verified
    (doc, example) pairs hitting the suite) and ``max_jaccard`` (the
    worst leak — 1.0 means a verbatim copy of an example).

    Unlike the exact-gram summary — where a suite's grams union into
    one matchable set — Jaccard is inherently PER-EXAMPLE (a doc can
    be a near-dup of one example, never of a suite's pooled
    shingles), so the eval set must carry BOTH an example id and a
    ``suite`` label: pairs are verified per example, then folded by
    suite. The fold adds one suites-sized aggregation over the
    hits-sized pair table; the suite labels ride the eval-sized
    mapping (broadcast by AQE), so the corpus-side cost is exactly
    fuzzy_contamination_pairs' (``engine`` passes through)."""
    for col, role in ((eval_id, "example id"), (suite, "suite")):
        if col not in eval_set.columns:
            raise ValueError(
                f"fuzzy_overlap_summary needs the eval {role} column "
                f"{col!r} (per-example Jaccard folded by suite); "
                f"eval_set has {eval_set.columns}"
            )
    pairs = fuzzy_contamination_pairs(
        corpus, eval_set, corpus_text, corpus_id, eval_text, eval_id,
        n, threshold, normalize, engine,
    )
    labels = eval_set.select(eval_id, suite).distinct()
    return (
        pairs.join(labels, eval_id)
        .groupBy(suite)
        .agg(
            F.count_distinct(corpus_id).alias("n_contaminated_docs"),
            F.count(F.lit(1)).alias("n_flagged_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 13,
    normalize: bool = False,
) -> DataFrame:
    """Corpus minus contaminated docs (left-anti against the broadcast
    eval n-gram set — the production filter shape). ``normalize``:
    case/punctuation-insensitive matching (see contamination_report)."""
    eval_grams = _gram_table(
        eval_set, eval_text, None, n, "gram", normalize
    ).distinct()
    corpus_grams = _gram_table(
        corpus, corpus_text, corpus_id, n, "gram", normalize
    )
    contaminated = corpus_grams.join(F.broadcast(eval_grams), "gram").select(
        corpus_id
    ).distinct()
    return corpus.join(contaminated, corpus_id, "left_anti")


def semantic_decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.9,
    corpus_vec: str = "embedding",
    corpus_id: str = "doc_id",
    eval_vec: str = "embedding",
    report: bool = False,
) -> DataFrame:
    """Embedding-level decontamination: drop corpus rows whose vector is
    cosine-similar (>= threshold) to ANY eval example — the semantic
    complement of the 13-gram filter, catching paraphrased/reformatted
    eval leakage exact n-grams miss (public practice: e.g. the
    phi/GPT-3 appendix decontamination discussions).

    Scale shape: eval sets are small — the eval side BROADCASTS and the
    corpus never shuffles (a broadcast nested-loop with an early cosine
    filter, the same sanctioned shape as brute-force ANN's query side);
    the contaminated-id set is then a broadcast anti join. report=True
    returns (corpus_id, n_eval_hits, max_cos) for audit instead of
    filtering."""
    from .similarity import cosine

    ev = eval_set.select(F.col(eval_vec).alias("__ev"))
    pairs = corpus.select(F.col(corpus_id), F.col(corpus_vec).alias("__cv")).join(
        F.broadcast(ev)
    )
    cos = cosine(F.col("__cv"), F.col("__ev"))
    hits = pairs.select(F.col(corpus_id), cos.alias("__cos")).filter(
        F.col("__cos") >= float(threshold)
    )
    if report:
        return hits.groupBy(corpus_id).agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("__cos").alias("max_cos"),
        )
    contaminated = hits.select(corpus_id).distinct()
    return corpus.join(F.broadcast(contaminated), corpus_id, "left_anti")


# --- Bloom-prefiltered decontamination (r9) --------------------------------
#
# contamination_report broadcasts the eval n-gram SET — right whenever the
# eval side fits the broadcast budget (the common case). When it does not
# (a consortium eval suite can reach 10^8+ distinct 13-grams ~ GBs as a
# join table), the scalable shape is two-phase: ship a FIXED-SIZE Bloom
# filter of the eval grams in the UDF closure (a 2^30-bit filter is
# 128 MB regardless of gram count), drop the overwhelming majority of
# corpus grams map-side, and exact-verify only the survivors with a
# shuffle join against the true eval grams — false positives die there,
# so the result is EXACTLY contamination_report's. Spark's internal
# bloom_filter_agg/might_contain expressions are not exposed as public
# SQL functions in this build, so the filter is built distributed with
# the repo's partition-sum DDP shape: each partition sets bits in a
# local numpy bitmap inside one Arrow pass, the driver ORs the bitmaps.
# Standard double hashing (Kirsch-Mitzenmacher, public literature):
# position_i = (h1 + i*h2) mod n_bits over the split halves of the
# 64-bit gram hash.


def _bloom_positions(hashes_u64, n_bits: int, k: int):
    """(n, k) uint64 bit positions for a vector of 64-bit gram hashes."""
    import numpy as np

    u = hashes_u64.astype(np.uint64)
    h1 = u & np.uint64(0xFFFFFFFF)
    h2 = (u >> np.uint64(32)) | np.uint64(1)  # odd stride
    i = np.arange(k, dtype=np.uint64)[None, :]
    return (h1[:, None] + i * h2[:, None]) & np.uint64(n_bits - 1)


def build_gram_bloom(
    eval_set: DataFrame,
    text_col: str = "text",
    n: int = 13,
    n_bits: int | None = 1 << 23,
    k: int = 7,
    fold_partitions: int = 8,
    normalize: bool = False,
) -> bytes:
    """Bloom bitmap of the eval set's word-n-gram hashes. ``n_bits`` must
    be a power of two (sized for the expected distinct-gram count: FPR
    ~ (1 - e^{-k m / n_bits})^k; at n_bits = 16m and k = 7 that is
    ~0.5%). Pass ``n_bits=None`` to size it from one cheap
    approx_count_distinct scan of the gram table (next power of two
    >= 16m, clamped to [2^23, 2^30]) — the explicit default 2^23 (1 MiB,
    ~0.5M grams) only suits SMALL eval sets; the beyond-broadcast suites
    this module exists for (10^8+ distinct 13-grams) need ~2^30 bits, so
    scale users should pass None or size it themselves.

    Build is one Arrow pass per partition (eval grams never shuffle and
    never collect), then a STAGED OR: the per-partition bitmap rows —
    one per input partition — fold down to ``fold_partitions`` rows with
    an executor-side OR before the driver streams them one at a time
    (toLocalIterator). Driver peak memory is therefore O(n_bits) (two
    bitmaps), NOT O(input_partitions * n_bits): at 2^30 bits over a
    1000-partition eval suite the old collect() shape materialized
    ~128 GB on the driver; this shape holds 256 MB. The fold shuffle
    moves only P bitmap rows, never grams."""
    import numpy as np
    import pandas as pd

    grams = _gram_table(eval_set, text_col, None, n, "gram", normalize)
    if n_bits is None:
        m = grams.agg(
            F.approx_count_distinct("gram").alias("m")
        ).collect()[0]["m"] or 1
        n_bits = min(max(1 << (16 * m - 1).bit_length(), 1 << 23), 1 << 30)
    if n_bits & (n_bits - 1):
        raise ValueError(f"n_bits={n_bits} must be a power of two")

    def part_bitmap(batches):
        bm = np.zeros(n_bits // 8, dtype=np.uint8)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            pos = _bloom_positions(
                pdf["gram"].to_numpy(dtype=np.int64), n_bits, k
            ).ravel()
            np.bitwise_or.at(
                bm, (pos >> np.uint64(3)).astype(np.int64),
                np.left_shift(
                    np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)
                ),
            )
        if seen:
            yield pd.DataFrame({"bm": [bm.tobytes()]})

    def or_fold(batches):
        acc = None
        for pdf in batches:
            for buf in pdf["bm"]:
                if acc is None:
                    acc = np.frombuffer(buf, dtype=np.uint8).copy()
                else:
                    acc |= np.frombuffer(buf, dtype=np.uint8)
        if acc is not None:
            yield pd.DataFrame({"bm": [acc.tobytes()]})

    bitmaps = grams.mapInPandas(part_bitmap, schema="bm binary")
    folded = bitmaps.repartition(fold_partitions).mapInPandas(
        or_fold, schema="bm binary"
    )
    out = np.zeros(n_bits // 8, dtype=np.uint8)
    for r in folded.toLocalIterator():
        out |= np.frombuffer(r["bm"], dtype=np.uint8)
    return out.tobytes()


def bloom_might_contain_udf(bloom: bytes, k: int = 7):
    """Vectorized membership test over a LongType gram-hash column; the
    bitmap rides the closure (shipped once per executor — reuse ONE
    returned UDF across calls/batches rather than rebuilding, or the
    bitmap re-pickles into every new task binary)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not bloom:
        # an empty bitmap would mask positions with uint64(-1) and fail
        # deep inside a task; fail loudly at build time instead
        raise ValueError("bloom_might_contain_udf: empty bloom bitmap")
    bm = np.frombuffer(bloom, dtype=np.uint8)
    n_bits = len(bm) * 8

    def test(grams):
        pos = _bloom_positions(grams.to_numpy(dtype=np.int64), n_bits, k)
        bits = (
            bm[(pos >> np.uint64(3)).astype(np.int64)]
            >> (pos & np.uint64(7)).astype(np.uint8)
        ) & 1
        return pd.Series(bits.all(axis=1))

    test.__annotations__ = {"grams": pd.Series, "return": pd.Series}
    return pandas_udf("boolean")(test)


def contamination_report_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 13,
    n_bits: int | None = 1 << 23,
    k: int = 7,
    normalize: bool = False,
) -> DataFrame:
    """contamination_report for eval sets too big to broadcast: Bloom
    prefilter map-side (fixed-size closure), then exact verification of
    the surviving grams via a shuffle join against the true eval grams.
    Output EXACTLY equals contamination_report (oracle-pinned) — the
    Bloom's false positives are removed by the verify join; only
    survivors (true hits + the ~FPR sliver) ever shuffle.

    ``n_bits``: the 2^23 default (1 MiB, ~0.5M grams at ~0.5% FPR) only
    suits SMALL eval sets — an undersized filter stays CORRECT (false
    positives die in the verify join) but saturates toward FPR 1, and
    the prefilter stops paying for itself: nearly the whole corpus gram
    table shuffles to the verify join. For the beyond-broadcast suites
    this function exists for (10^8+ distinct 13-grams), pass
    ``n_bits=None`` to auto-size from the eval gram count (~2^30 bits =
    128 MB closure), or size it yourself at ~16 bits per distinct gram."""
    bloom = build_gram_bloom(
        eval_set, eval_text, n, n_bits, k, normalize=normalize
    )
    might = bloom_might_contain_udf(bloom, k)
    corpus_grams = _gram_table(
        corpus, corpus_text, corpus_id, n, "gram", normalize
    )
    survivors = corpus_grams.filter(might(F.col("gram")))
    eval_grams = _gram_table(
        eval_set, eval_text, None, n, "gram", normalize
    ).distinct()
    hits = survivors.join(eval_grams, "gram")
    return hits.groupBy(corpus_id).agg(
        F.count_distinct("gram").alias("n_matched_grams")
    )


# --- persisted eval-set artifacts + streaming decontamination seam (r10) ---
#
# A daily-crawl pipeline decontaminates every new batch against the SAME
# eval suite; rebuilding the Bloom filter and re-gramming the eval set per
# batch wastes a full eval scan each time. These helpers persist the two
# artifacts once — the fixed-size Bloom bitmap (a driver-side file; it
# rides UDF closures) and the distinct eval GRAM-HASH table (parquet of
# 8-byte longs: the exact-verify side, partition-prunable and far smaller
# than the eval text) — so streaming/llm.streaming_decontaminate and any
# incremental batch job can reuse them.


def save_gram_bloom(
    bloom: bytes, path: str, k: int = 7, n: int = 13,
    normalize: bool = False,
) -> str:
    """Persist a built Bloom bitmap + the THREE parameters that define
    its hash space (k, gram order n, normalize). npz keeps the artifact
    self-describing (n_bits = 8 * len(bitmap)) — a reader that grams
    with a different n or normalize setting matches NOTHING (disjoint
    hash spaces → silent zero-contamination reports), so the settings
    ride the artifact and load_gram_bloom can validate them.

    Returns the canonical path actually written. np.savez silently
    appends ``.npz`` when the path lacks the extension (r10 advice:
    ``load_gram_bloom(path)`` on the exact path passed here would then
    FileNotFoundError), so the suffix is normalized HERE and the
    returned path — not necessarily the argument — is the one to load."""
    import numpy as np

    if not path.endswith(".npz"):
        path = path + ".npz"
    np.savez(
        path, bitmap=np.frombuffer(bloom, dtype=np.uint8), k=int(k),
        n=int(n), normalize=bool(normalize),
    )
    return path


def load_gram_bloom(
    path: str,
    expect_n: "int | None" = None,
    expect_normalize: "bool | None" = None,
) -> "tuple[bytes, int]":
    """(bitmap_bytes, k) back from save_gram_bloom. Pass ``expect_n`` /
    ``expect_normalize`` (your read-side gramming settings) to fail
    LOUDLY on a hash-space mismatch instead of silently reporting zero
    contamination. Artifacts from before the settings were recorded
    skip the check (n/normalize absent)."""
    import numpy as np

    with np.load(path) as z:
        if "bitmap" not in z or "k" not in z:
            raise ValueError(f"invalid gram-bloom artifact: {path}")
        for key, expect in (("n", expect_n), ("normalize", expect_normalize)):
            if expect is not None and key in z and z[key].item() != expect:
                raise ValueError(
                    f"gram-bloom artifact {path} was built with "
                    f"{key}={z[key].item()} but the reader grams with "
                    f"{key}={expect}: disjoint hash spaces would "
                    "silently report zero contamination"
                )
        return z["bitmap"].tobytes(), int(z["k"])


def write_eval_gram_table(
    eval_set: DataFrame, path: str, text_col: str = "text", n: int = 13,
    normalize: bool = False, eval_id: "str | None" = None,
) -> None:
    """Materialize the DISTINCT eval gram-hash table (column ``gram``
    long) as parquet — the exact-verify join side for incremental /
    streaming decontamination. Write once per eval-suite version.
    The hash-space settings (n, normalize) are written to a
    ``_decon_meta.json`` sidecar inside the directory (underscore
    prefix: parquet readers ignore it) so read-side mismatches fail
    loudly (see read_eval_gram_meta) instead of silently matching
    nothing.

    ``eval_id`` (r12): pass the eval id (or suite) column to write an
    ATTRIBUTED table — DISTINCT (eval_id, gram) rows, the verify side
    of streaming contamination ATTRIBUTION. The sidecar records
    ``attributed: true`` and the anonymous-table processors reject it
    loudly (an attributed table is a different product: per-eval
    duplicate grams would silently inflate their broadcast), exactly as
    the attribution processor rejects a plain table."""
    import json
    import os

    attributed = eval_id is not None
    _gram_table(
        eval_set, text_col, eval_id, n, "gram", normalize
    ).distinct().write.mode("overwrite").parquet(path)
    spark = eval_set.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_decon_meta.json"))
    out = p.getFileSystem(hconf).create(p, True)
    out.write(bytearray(json.dumps(
        {"n": int(n), "normalize": bool(normalize),
         "attributed": attributed}
    ).encode()))
    out.close()


def read_eval_gram_meta(spark, path: str) -> "dict | None":
    """The (n, normalize) sidecar of write_eval_gram_table, or None for
    tables written before the sidecar existed."""
    import json
    import os

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_decon_meta.json"))
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = bytearray()
        b = stream.read()
        while b >= 0:
            data.append(b)
            b = stream.read()
        return json.loads(bytes(data).decode())
    finally:
        stream.close()


def check_eval_gram_meta(
    spark, path: str, n: int, normalize: bool,
    attributed: "bool | None" = None,
) -> None:
    """Raise if the stored gram table's hash-space settings disagree
    with the reader's — the silent-zero-report guard for the streaming
    processors. ``attributed`` (r12): pass the reader's expectation to
    also reject a plain table fed to the attribution processor (no
    eval_id to attribute to) or an attributed table fed to an
    anonymous-gram processor (per-eval duplicate grams inflate the
    broadcast side); None or a pre-r12 sidecar skips that check."""
    meta = read_eval_gram_meta(spark, path)
    if meta is None:
        return
    for key, mine in (("n", int(n)), ("normalize", bool(normalize))):
        if meta.get(key) != mine:
            raise ValueError(
                f"eval gram table {path} was written with "
                f"{key}={meta.get(key)} but this reader grams with "
                f"{key}={mine}: disjoint hash spaces would silently "
                "report zero contamination"
            )
    if (
        attributed is not None
        and "attributed" in meta
        and bool(meta["attributed"]) != attributed
    ):
        want = "an attributed (eval_id, gram)" if attributed else "a plain gram"
        got = "attributed" if meta["attributed"] else "plain"
        raise ValueError(
            f"eval gram table {path} is {got} but this reader needs "
            f"{want} table — rewrite the artifact with "
            f"write_eval_gram_table(eval_id={'<col>' if attributed else 'None'})"
        )


def write_eval_fuzzy_table(
    eval_set: DataFrame,
    path: str,
    text_col: str = "text",
    eval_id: str = "eval_id",
    n: int = 3,
    normalize: bool = False,
) -> None:
    """Materialize the FROZEN fuzzy-decontamination eval artifact
    (r13): (eval_id, shingles, signature) parquet — the verify side of
    incremental / streaming fuzzy decontamination, written once per
    eval-suite version exactly like write_eval_gram_table writes the
    exact-gram artifact. The shingle/signature settings (n, normalize,
    and the banding geometry, which is baked into the library
    constants) go to a ``_fuzzy_meta.json`` sidecar so read-side
    mismatches fail loudly instead of silently matching nothing."""
    import json
    import os

    from .dedup import BANDS, NUM_HASHES, minhash_signatures_from_hashed

    h_e = _fuzzy_shingled(eval_set, text_col, eval_id, n, normalize)
    (
        h_e.join(minhash_signatures_from_hashed(h_e, eval_id), eval_id)
        .select(eval_id, "shingles", "signature")
        .write.mode("overwrite")
        .parquet(path)
    )
    spark = eval_set.sparkSession
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_fuzzy_meta.json"))
    out = p.getFileSystem(hconf).create(p, True)
    out.write(bytearray(json.dumps(
        {"kind": "fuzzy", "n": int(n), "normalize": bool(normalize),
         "num_hashes": int(NUM_HASHES), "bands": int(BANDS)}
    ).encode()))
    out.close()


def check_eval_fuzzy_meta(spark, path: str, n: int, normalize: bool) -> None:
    """Raise unless ``path`` is a fuzzy artifact written with the
    reader's shingle settings AND the library's current banding
    geometry. Unlike the gram-table sidecar there is no legacy-table
    grace: a missing ``_fuzzy_meta.json`` means the directory is NOT a
    write_eval_fuzzy_table artifact (e.g. a gram table fed to the fuzzy
    processor) and matching would silently report zero overlap."""
    import json
    import os

    from .dedup import BANDS, NUM_HASHES

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_fuzzy_meta.json"))
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        raise ValueError(
            f"{path} has no _fuzzy_meta.json — not a write_eval_fuzzy_table "
            "artifact (a plain/attributed GRAM table is a different "
            "product; rewrite the artifact with write_eval_fuzzy_table)"
        )
    stream = fs.open(p)
    try:
        data = bytearray()
        b = stream.read()
        while b >= 0:
            data.append(b)
            b = stream.read()
        meta = json.loads(bytes(data).decode())
    finally:
        stream.close()
    for key, mine in (
        ("n", int(n)), ("normalize", bool(normalize)),
        ("num_hashes", int(NUM_HASHES)), ("bands", int(BANDS)),
    ):
        if meta.get(key) != mine:
            raise ValueError(
                f"fuzzy eval artifact {path} was written with "
                f"{key}={meta.get(key)} but this reader uses {key}={mine}: "
                "disjoint shingle/signature spaces would silently report "
                "zero overlap — rewrite the artifact"
            )


# --- span-level decontamination (r10) ---------------------------------------
#
# Doc-level decontamination throws away a whole training document for one
# leaked 13-gram; the surgical alternative (public practice, same family
# as Lee et al. 2022's substring REMOVAL for duplicates) cuts only the
# contaminated token spans and keeps the rest of the document. Built from
# the repo's existing interval machinery: positional gram windows ->
# broadcast join against the eval gram set -> gaps-and-islands merge
# (dedup.merge_start_intervals) -> token-index rewrite
# (dedup.remove_interval_tokens).


def _positional_gram_table(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, start_idx, gram) — EVERY n-token window hash with its 0-based
    token position. Unlike _gram_table this must NOT dedupe: positions
    are the point (a gram leaking twice in one doc flags two spans).
    Short docs (< n tokens) yield no rows (the sequence(1, 0) hazard is
    guarded the same way as _shingles_from_tokens)."""
    tokd = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    count = F.size("__toks") - (n - 1)
    wins = F.when(count < 1, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
            lambda i: F.xxhash64(
                F.array_join(F.slice(F.col("__toks"), i, n), " ")
            ),
        )
    )
    return tokd.select(
        F.col(id_col), F.posexplode(wins).alias("start_idx", "gram")
    )


def _normalized_positional_gram_table(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, first_raw, last_raw, gram) — n-WORD windows over the
    per-token-NORMALIZED word sequence, each carrying the range of RAW
    token indices it covers (0-based, inclusive). The key identity: raw
    tokens are whitespace-split, and _norm_text maps whitespace to
    space, so the whole-string-normalized word sequence (what
    _gram_table(normalize=True) hashes on the eval side) EQUALS the
    concatenation of per-token-normalized words — the hash spaces
    match, while positions still map back onto raw tokens, which
    whole-string normalization destroys (r10 verdict #4). One raw token
    can yield several words ("don't" -> "don t") or none ("--" -> []);
    empty expansions are skipped exactly as whole-string normalization
    collapses them, and a window covering part of a multi-word raw
    token covers the WHOLE raw token (token-level surgery cannot cut
    finer). Like _positional_gram_table this must NOT dedupe, and docs
    with fewer than n normalized words yield no rows."""
    win_t = "array<struct<gram:bigint,first_raw:int,last_raw:int>>"
    tokd = df.select(F.col(id_col), _tokens(F.col(text_col)).alias("__toks"))
    # (word, raw_idx) pairs: raw token i -> its normalized words, tagged i
    pairs = F.flatten(
        F.transform(
            F.col("__toks"),
            lambda t, i: F.transform(
                F.filter(
                    F.split(_norm_text(t), " "), lambda w: w != ""
                ),
                lambda w: F.struct(
                    w.alias("w"), i.cast("int").alias("i")
                ),
            ),
        )
    )
    paired = tokd.select(F.col(id_col), pairs.alias("__pairs"))
    count = F.size("__pairs") - (n - 1)
    # first/last raw indices via element_at on the FULL pairs array —
    # slicing it three times per window would copy the O(n) struct slice
    # twice more for two scalar reads (Catalyst does not CSE inside HOF
    # lambdas; see _shingles_from_tokens's measured note, dedup.py)
    wins = F.when(count < 1, F.array().cast(win_t)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
            lambda j: F.struct(
                F.xxhash64(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("__pairs"), j, n), lambda p: p["w"]
                        ),
                        " ",
                    )
                ).alias("gram"),
                F.element_at(F.col("__pairs"), j)["i"].alias("first_raw"),
                F.element_at(F.col("__pairs"), j + F.lit(n - 1))["i"].alias(
                    "last_raw"
                ),
            ),
        )
    )
    return paired.select(F.col(id_col), F.explode(wins).alias("__w")).select(
        id_col,
        F.col("__w.gram").alias("gram"),
        F.col("__w.first_raw").alias("first_raw"),
        F.col("__w.last_raw").alias("last_raw"),
    )


def contaminated_span_intervals(
    corpus: DataFrame,
    eval_set: "DataFrame | None",
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 13,
    eval_grams: "DataFrame | None" = None,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    gram_filter=None,
    broadcast_eval: "bool | None" = None,
    normalize: bool = False,
) -> DataFrame:
    """Maximal contaminated token intervals (id, span_start, span_end,
    span_len; end exclusive): every corpus position whose n-token window
    appears in the eval set, merged per document (window [s, s+n) joins
    the island of start s iff s' - s <= n). The eval gram set broadcasts
    exactly as in contamination_report; the corpus pays one positional
    window pass and the islands fold's id-clustered exchange.

    ``eval_grams``: a prebuilt DISTINCT (gram long) table — e.g. the
    stored artifact of write_eval_gram_table — used INSTEAD of gramming
    ``eval_set`` (pass eval_set=None then); how incremental/streaming
    callers avoid re-scanning the eval suite per batch. A table built
    here from ``eval_set`` is broadcast-hinted (eval sets are small by
    definition); for a PREBUILT table the hint is controlled by
    ``broadcast_eval`` — None (default) hints it too UNLESS a bloom
    prefilter is in play (passing a bloom is the caller saying the
    table is beyond-broadcast; then AQE picks the strategy from the
    measured size), True/False force it. For the beyond-broadcast
    regime pass ``bloom`` (+ ``bloom_k``) to prefilter corpus windows
    map-side before the verify join, exactly as in
    contamination_report_bloom — zero false negatives, so intervals are
    unchanged. Repeated callers (streaming processors) should build the
    filter ONCE with bloom_might_contain_udf and pass it as
    ``gram_filter`` instead of raw ``bloom`` bytes: a fresh UDF per
    batch re-pickles the whole bitmap into every task binary.

    ``normalize`` (r11, verdict #4): match grams case/punctuation-
    insensitively while intervals still index RAW tokens — each token
    normalizes individually so positions survive (the per-token word
    expansion of _normalized_positional_gram_table; whole-string
    normalization destroys the position mapping). The eval side (or
    the prebuilt ``eval_grams`` table / ``bloom``) must be built with
    the SAME normalize setting — disjoint hash spaces otherwise; the
    streaming processors validate this via the stored artifact's
    metadata sidecar. Windows have variable raw coverage under
    normalization (one raw token may hold several matched words), so
    the merge is the generic interval fold instead of the fixed-n
    islands one."""
    if gram_filter is None and bloom:
        gram_filter = bloom_might_contain_udf(bloom, bloom_k)
    if eval_grams is None:
        eval_grams = F.broadcast(
            _gram_table(
                eval_set, eval_text, None, n, "gram", normalize
            ).distinct()
        )
    elif broadcast_eval or (broadcast_eval is None and gram_filter is None):
        eval_grams = F.broadcast(eval_grams)
    if normalize:
        pos = _normalized_positional_gram_table(
            corpus, corpus_text, corpus_id, n
        )
        if gram_filter is not None:
            pos = pos.filter(gram_filter(F.col("gram")))
        flagged = pos.join(eval_grams, "gram").select(
            corpus_id,
            F.col("first_raw").alias("span_start"),
            (F.col("last_raw") + 1).cast("int").alias("span_end"),
        )
        from .dedup import merge_intervals

        return merge_intervals(flagged, corpus_id)
    pos = _positional_gram_table(corpus, corpus_text, corpus_id, n)
    if gram_filter is not None:
        pos = pos.filter(gram_filter(F.col("gram")))
    flagged = pos.join(eval_grams, "gram").select(corpus_id, "start_idx")
    from .dedup import merge_start_intervals

    return merge_start_intervals(flagged, corpus_id, n)


def decontaminate_spans(
    corpus: DataFrame,
    eval_set: DataFrame,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 13,
    normalize: bool = False,
) -> DataFrame:
    """Corpus with the contaminated token spans CUT OUT (and documents
    that were wholly contamination dropped) — the surgical counterpart
    of ``decontaminate``'s whole-document filter. Same rewrite contract
    as dedup.remove_duplicate_spans: span-free documents pass through
    whitespace-normalized, non-text columns are preserved. Every
    ORIGINAL eval n-gram occurrence is removed (its window start sits
    inside a removed interval, so at least one of its tokens is cut);
    an n-gram formed ACROSS a cut seam is a new token sequence that can
    only match the eval set by coincidence — re-run contamination_report
    on the rewrite for a guarantee (the tests do; zero residual hits on
    the planted corpora).

    ``normalize`` (r11): cut spans whose grams match the eval set
    case/punctuation-insensitively while REWRITING the raw tokens — the
    per-token normalization of contaminated_span_intervals keeps the
    position mapping, closing the gap where a perturbed leak ("The
    Cat, Sat!" vs the eval's "the cat sat") survived the raw-token
    span pass. A raw token partially covered by a matched normalized
    window is removed whole (token-level surgery)."""
    from .dedup import remove_interval_tokens

    iv = contaminated_span_intervals(
        corpus, eval_set, corpus_text, corpus_id, eval_text, n,
        normalize=normalize,
    )
    return remove_interval_tokens(corpus, iv, corpus_text, corpus_id)


def contamination_span_stats(
    corpus: DataFrame,
    eval_set: "DataFrame | None",
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 13,
    normalize: bool = False,
    eval_grams: "DataFrame | None" = None,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    gram_filter=None,
    broadcast_eval: "bool | None" = None,
) -> DataFrame:
    """(id, n_tokens, n_spans, contaminated_tokens, contaminated_frac)
    for every corpus doc with at least one contaminated span (clean docs
    are absent, like contamination_report) — the measurement behind
    threshold policies: HOW MUCH of each doc is eval leakage, not just
    whether any of it is. Same eval-side options as
    contaminated_span_intervals (prebuilt gram table, bloom prefilter,
    normalize). Intervals are disjoint after the islands fold, so
    contaminated_tokens = SUM(span_len) exactly; one extra narrow token
    -count scan of the corpus beyond the interval build."""
    iv = contaminated_span_intervals(
        corpus, eval_set, corpus_text, corpus_id, eval_text, n,
        eval_grams, bloom, bloom_k, gram_filter, broadcast_eval, normalize,
    )
    return _span_totals(iv, corpus, corpus_text, corpus_id).select(
        corpus_id,
        "n_tokens",
        "n_spans",
        "contaminated_tokens",
        (
            F.col("contaminated_tokens") / F.col("n_tokens")
        ).alias("contaminated_frac"),
    )


def _span_totals(
    iv: DataFrame, corpus: DataFrame, corpus_text: str, corpus_id: str
) -> DataFrame:
    """(id, n_tokens, n_spans, contaminated_tokens) for docs with >= 1
    interval — the one definition of the contamination fraction's
    numerator and denominator, shared by contamination_span_stats and
    decontaminate_spans_policy so the report and the policy can never
    silently disagree."""
    per_doc = iv.groupBy(corpus_id).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").cast("long").alias("contaminated_tokens"),
    )
    toks = corpus.select(
        F.col(corpus_id), F.size(_tokens(F.col(corpus_text))).alias("n_tokens")
    )
    return per_doc.join(toks, corpus_id)


def decontaminate_spans_policy(
    corpus: DataFrame,
    eval_set: "DataFrame | None",
    max_frac: float = 0.5,
    corpus_text: str = "text",
    corpus_id: str = "doc_id",
    eval_text: str = "text",
    n: int = 13,
    normalize: bool = False,
    eval_grams: "DataFrame | None" = None,
    bloom: "bytes | None" = None,
    bloom_k: int = 7,
    gram_filter=None,
    broadcast_eval: "bool | None" = None,
) -> DataFrame:
    """The threshold POLICY over span decontamination (r11): a doc whose
    contaminated token fraction EXCEEDS ``max_frac`` is dropped whole —
    past some point the doc mostly IS eval content (a dumped eval file,
    a scraped answer key) and cutting the spans would keep a gutted
    remnant of it — while docs at or under the threshold are
    surgically span-cut exactly as decontaminate_spans does (same
    rewrite contract: whitespace-normalized pass-through for clean
    docs, wholly-covered docs absent regardless of threshold).
    ``max_frac=0`` drops every contaminated doc (= the whole-document
    ``decontaminate`` filter, modulo the rewrite's whitespace
    normalization of clean docs); ``max_frac>=1`` never drops (= plain
    decontaminate_spans).

    The interval table feeds BOTH the fraction filter and the rewrite;
    it is lazily localCheckpoint-ed so the positional gram pass — the
    corpus-scale cost — runs ONCE per action, not once per branch
    (intervals are hits-sized, far below corpus scale).

    Eval-side options (``eval_grams``/``bloom``/``gram_filter``/
    ``broadcast_eval``) pass through to contaminated_span_intervals with
    the same contract as contamination_span_stats — this is how the
    streaming policy processor (streaming/llm.py, r11 verdict #4) runs
    THIS function per micro-batch against a frozen stored gram table, so
    batch and streaming policy share one code path and cannot
    disagree."""
    iv = contaminated_span_intervals(
        corpus, eval_set, corpus_text, corpus_id, eval_text, n,
        eval_grams, bloom, bloom_k, gram_filter, broadcast_eval, normalize,
    ).localCheckpoint(eager=False)
    drops = (
        _span_totals(iv, corpus, corpus_text, corpus_id)
        .filter(
            F.col("contaminated_tokens")
            > float(max_frac) * F.col("n_tokens")
        )
        .select(corpus_id)
    )
    from .dedup import remove_interval_tokens

    kept = corpus.join(drops, corpus_id, "left_anti")
    iv_kept = iv.join(drops, corpus_id, "left_anti")
    return remove_interval_tokens(kept, iv_kept, corpus_text, corpus_id)


def pick_decontaminate_engine(
    eval_set: DataFrame,
    eval_text: str = "text",
    n: int = 13,
    budget_grams: int = 32_000_000,
    normalize: bool = False,
    with_count: bool = False,
):
    """'broadcast' or 'bloom' from ONE approx_count_distinct scan of the
    eval gram table — the engine='auto' probe (flow op `decontaminate`).

    The dispatch criterion is the BROADCAST MEMORY BUDGET, not wall
    time: measured at sf0.1/local[32] (SCALE.md r10 table), broadcast
    beats the bloom two-phase at EVERY size that fits memory — 3.8 vs
    5.9 s at 0.14M grams through 16 vs 66 s at 11.2M — because bloom
    pays two extra eval scans (sizing probe + bitmap build) and its
    survivors still verify against the same gram table. Bloom's value
    is that it EXISTS past the broadcast wall (a 10^8-gram suite is
    several GB as a broadcast hash relation per executor: OOM), so the
    probe picks broadcast up to ``budget_grams`` (default 32M ~ 1 GB+
    as a long-keyed broadcast relation) and bloom beyond. The ~5%
    sketch error is immaterial against an order-of-magnitude budget.

    ``with_count=True`` returns ``(engine, approx_gram_count)`` so the
    caller can reuse the measurement — e.g. to size the bloom filter
    instead of paying build_gram_bloom's own sizing scan."""
    m = _gram_table(eval_set, eval_text, None, n, "gram", normalize).agg(
        F.approx_count_distinct("gram").alias("m")
    ).collect()[0]["m"] or 0
    engine = "broadcast" if m <= int(budget_grams) else "bloom"
    return (engine, int(m)) if with_count else engine


def pick_fuzzy_engine(
    eval_tbl: DataFrame,
    budget_shingles: int = 32_000_000,
    with_count: bool = False,
):
    """'broadcast' or 'shuffle' for the FUZZY decontamination eval side
    — the engine='auto' probe, the fuzzy twin of
    pick_decontaminate_engine. Takes any frame carrying the eval
    ``shingles`` column (the in-flight shingled eval table or a frozen
    write_eval_fuzzy_table artifact) and runs ONE eval-sized scalar
    aggregate: total shingle hashes, the quantity that dominates both
    forced broadcasts (the verification arrays outweigh the banded
    buckets — BANDS*5 longs per doc — for any eval doc longer than a
    sentence). Same budget philosophy as the gram probe: broadcast
    beats shuffle at every size that FITS executor memory, so the
    criterion is the memory budget (default 32M longs ~ the same
    1 GB-class hash relation as budget_grams), not wall time; past it
    the joins fall back to the minhash self-join's proven shuffle
    shape. ``with_count=True`` returns (engine, total_shingles)."""
    m = (
        eval_tbl.agg(F.sum(F.size("shingles")).alias("m")).collect()[0]["m"]
        or 0
    )
    engine = "broadcast" if m <= int(budget_shingles) else "shuffle"
    return (engine, int(m)) if with_count else engine
