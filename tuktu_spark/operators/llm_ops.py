"""LLM-pipeline operators: the tuktu_spark.llm library surfaced in the
operator registry so flow specs can express training-data pipelines
(dedup -> components -> text features) declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..llm import dedup as D
from ..llm import text as T
from .registry import flag, operator, reject_removed_keys


@operator("exact_dedup")
def exact_dedup(config: dict):
    """Exact content-hash dedup: (content_md5, canonical_id, n_copies)."""
    text_col = config.get("text_field", "text")
    id_col = config.get("id_field", "doc_id")
    return lambda df: D.exact_dedup(df, text_col, id_col)


@operator("minhash_dedup")
def minhash_dedup(config: dict):
    """MinHash+LSH near-dup pairs (signatures -> banded candidates ->
    exact verification). config: {text_field, id_field, threshold, n,
    distinct_content} — distinct_content: false (default) | true |
    "auto" (probe the corpus duplication ratio once; same output either
    way, the flag only picks the cheaper plan)."""
    text_col = config.get("text_field", "text")
    id_col = config.get("id_field", "doc_id")
    threshold = float(config.get("threshold", 0.8))
    n = int(config.get("n", 3))
    dc = config.get("distinct_content", False)
    return lambda df: D.minhash_dedup_pairs(
        df, text_col, id_col, n, threshold, distinct_content=dc
    )


@operator("shingle_index_write")
def shingle_index_write(config: dict):
    """Materialize the corpus' hashed-shingle index as a bucketed managed
    table (write once, dedup many — llm/dedup.py write_shingle_index).
    config: {table, text_field, id_field, n, buckets, mode}. Passes the
    input through unchanged so flows can chain further processors."""
    table = config["table"]
    text_col = config.get("text_field", "text")
    id_col = config.get("id_field", "doc_id")
    n = int(config.get("n", 3))
    buckets = int(config.get("buckets", 32))
    mode = config.get("mode", "overwrite")

    def sink(df: DataFrame) -> DataFrame:
        D.write_shingle_index(df, table, text_col, id_col, n, buckets, mode)
        return df

    return sink


@operator("minhash_dedup_from_index")
def minhash_dedup_from_index(config: dict):
    """MinHash+LSH near-dup pairs read from a bucketed shingle index
    (shingle_index_write) — skips the raw-text scan entirely; identical
    output to minhash_dedup. config: {table, id_field, threshold}."""
    table = config["table"]
    id_col = config.get("id_field", "doc_id")
    threshold = float(config.get("threshold", 0.8))
    return lambda df: D.minhash_dedup_pairs_from_index(
        df.sparkSession, table, id_col, threshold
    )


@operator("jaccard_dedup")
def jaccard_dedup(config: dict):
    """Exact n-gram Jaccard pairs via prefix+length filtering. config:
    {text_field, id_field, threshold, n, distinct_content} —
    distinct_content: false (default) | true | "auto"."""
    text_col = config.get("text_field", "text")
    id_col = config.get("id_field", "doc_id")
    threshold = float(config.get("threshold", 0.8))
    n = int(config.get("n", 3))
    dc = config.get("distinct_content", False)
    return lambda df: D.ngram_jaccard_pairs(
        df, text_col, id_col, n, threshold, distinct_content=dc
    )


@operator("simhash_add")
def simhash_add(config: dict):
    """Add a SimHash fingerprint column. config: {text_field, as}."""
    text_col = config.get("text_field", "text")
    out = config.get("as", "simhash")
    return lambda df: df.withColumn(out, D.simhash(F.col(text_col)))


@operator("text_features")
def text_features(config: dict):
    """Language-ID + quality features + token counts + fingerprint in one
    pass (llm/text.py with_text_features)."""
    text_col = config.get("text_field", "text")
    return lambda df: T.with_text_features(df, text_col)


@operator("contamination_attribution")
def contamination_attribution_op(config: dict):
    """Per-eval-example (or per-suite) contamination attribution (r12):
    (corpus, eval_set) inputs -> (doc_id, eval_id, n_shared_grams) —
    WHICH benchmark each contaminated doc leaks, the per-task overlap
    view decontamination reports are actually written in. Pass a suite
    column as eval_id_field to attribute at suite granularity. config:
    {text_field, id_field, eval_text_field, eval_id_field, n,
    normalize}."""
    from ..llm import decontaminate as DC

    def transform(
        corpus: DataFrame, eval_set: DataFrame | None = None
    ) -> DataFrame:
        if eval_set is None:
            raise ValueError(
                "contamination_attribution needs (corpus, eval_set) inputs"
            )
        return DC.contamination_attribution(
            corpus, eval_set,
            corpus_text=config.get("text_field", "text"),
            corpus_id=config.get("id_field", "doc_id"),
            eval_text=config.get(
                "eval_text_field", config.get("text_field", "text")
            ),
            eval_id=config.get("eval_id_field", "eval_id"),
            n=int(config.get("n", 13)),
            normalize=flag(config, "normalize", False),
        )

    return transform


@operator("fuzzy_decontaminate")
def fuzzy_decontaminate_op(config: dict):
    """FUZZY (MinHash-LSH near-dup) decontamination (r13): (corpus,
    eval_set) inputs -> corpus minus docs within ``threshold``
    shingle-Jaccard of any eval example (llm/decontaminate.
    decontaminate_fuzzy), or with report=True the verified
    (doc_id, eval_id, jaccard) pair table (fuzzy_contamination_pairs).
    The near-dup complement of the exact long-n-gram 'decontaminate'
    op — catches lightly edited eval leaks exact matching misses.
    config: {n, threshold, text_field, id_field, eval_text_field,
    eval_id_field, report, normalize, engine, suite_field} — engine
    'broadcast' (default) / 'shuffle' / 'auto', the fuzzy twin of the
    exact op's broadcast/bloom dispatch (pick_fuzzy_engine);
    suite_field selects the per-SUITE summary table instead
    (fuzzy_overlap_summary — eval_set must carry both the example id
    and the suite label)."""
    from ..llm import decontaminate as DC

    def transform(
        corpus: DataFrame, eval_set: DataFrame | None = None
    ) -> DataFrame:
        if eval_set is None:
            raise ValueError(
                "fuzzy_decontaminate needs (corpus, eval_set) inputs"
            )
        common = dict(
            corpus_text=config.get("text_field", "text"),
            corpus_id=config.get("id_field", "doc_id"),
            eval_text=config.get(
                "eval_text_field", config.get("text_field", "text")
            ),
            n=int(config.get("n", 3)),
            threshold=float(config.get("threshold", 0.8)),
            normalize=flag(config, "normalize", False),
            engine=str(config.get("engine", "broadcast")),
        )
        if config.get("suite_field"):
            return DC.fuzzy_overlap_summary(
                corpus, eval_set,
                eval_id=config.get("eval_id_field", "eval_id"),
                suite=str(config["suite_field"]),
                **common,
            )
        if config.get("report"):
            return DC.fuzzy_contamination_pairs(
                corpus, eval_set,
                eval_id=config.get("eval_id_field", "eval_id"),
                **common,
            )
        return DC.decontaminate_fuzzy(corpus, eval_set, **common)

    return transform


@operator("decontaminate")
def decontaminate_op(config: dict):
    """Benchmark decontamination (merger takes (corpus, eval_set) inputs
    in flows): drop corpus docs sharing any word n-gram with the eval
    set — or, with mode='spans' (r10), cut only the contaminated token
    intervals and keep the rest of each document
    (llm/decontaminate.decontaminate_spans). config: {n, text_field,
    id_field, eval_text_field, report, mode, normalize, engine,
    auto_budget_grams, max_frac} — normalize matches grams case/
    punctuation-insensitively (the published GPT-3-style recipe); with
    mode='spans' (r11) each token normalizes individually so matching
    is perturbation-insensitive while the rewrite still re-emits raw
    tokens. mode='spans' extras (r11): report=True returns the
    per-doc span STATS table (n_tokens / n_spans / contaminated_tokens
    / contaminated_frac — contamination_span_stats) instead of
    rewriting; max_frac applies the threshold POLICY (drop docs more
    than max_frac contaminated, span-cut the rest —
    decontaminate_spans_policy). engine: 'broadcast'
    (default) | 'bloom' | 'auto' (probe the eval gram count once and
    dispatch on the broadcast memory budget — see
    pick_decontaminate_engine)."""
    from ..llm import decontaminate as DC

    def transform(corpus: DataFrame, eval_set: DataFrame | None = None) -> DataFrame:
        if eval_set is None:
            raise ValueError("decontaminate needs (corpus, eval_set) inputs")
        if config.get("mode") == "spans":
            if config.get("engine"):
                raise ValueError(
                    "mode='spans' has no engine dispatch (pass bloom "
                    "artifacts to the library's "
                    "contaminated_span_intervals / "
                    "contamination_span_stats for the beyond-broadcast "
                    "case)"
                )
            span_kwargs = dict(
                corpus_text=config.get("text_field", "text"),
                corpus_id=config.get("id_field", "doc_id"),
                eval_text=config.get(
                    "eval_text_field", config.get("text_field", "text")
                ),
                n=int(config.get("n", 13)),
                normalize=flag(config, "normalize", False),
            )
            if config.get("report"):
                if config.get("max_frac") is not None:
                    raise ValueError(
                        "mode='spans' report=True measures; max_frac "
                        "rewrites — pick one"
                    )
                return DC.contamination_span_stats(
                    corpus, eval_set, **span_kwargs
                )
            if config.get("max_frac") is not None:
                return DC.decontaminate_spans_policy(
                    corpus, eval_set,
                    max_frac=float(config["max_frac"]), **span_kwargs,
                )
            return DC.decontaminate_spans(corpus, eval_set, **span_kwargs)
        if config.get("max_frac") is not None:
            # fail loudly like the other statically-detectable config
            # errors: silently ignoring max_frac would run the
            # whole-document filter where the user asked for a
            # threshold policy
            raise ValueError(
                "max_frac is a mode='spans' policy knob; without "
                "mode='spans' it would be silently ignored"
            )
        kwargs = dict(
            corpus_text=config.get("text_field", "text"),
            corpus_id=config.get("id_field", "doc_id"),
            eval_text=config.get("eval_text_field", config.get("text_field", "text")),
            n=int(config.get("n", 13)),
            normalize=flag(config, "normalize", False),
        )
        engine = config.get("engine")
        if engine in ("bloom", "auto") and not config.get("report"):
            # validate BEFORE any probe scan: a flow that only crosses
            # the auto budget months into production must not die on a
            # config error that was statically detectable
            raise ValueError(
                f"engine={engine!r} currently implements the report "
                "form; anti-join the report against the corpus to drop "
                "docs"
            )
        auto_sized_bits = None
        if engine == "auto":
            # one approx_count_distinct scan picks broadcast vs bloom on
            # the broadcast MEMORY budget (measured: broadcast wins
            # throughput at every size that fits — SCALE.md r10). The
            # probe's gram count is REUSED to size the filter: the 2^23
            # bloom_bits default is guaranteed saturated at exactly the
            # sizes auto selects bloom for.
            engine, m = DC.pick_decontaminate_engine(
                eval_set,
                eval_text=kwargs["eval_text"], n=kwargs["n"],
                budget_grams=int(config.get("auto_budget_grams", 32_000_000)),
                normalize=kwargs["normalize"],
                with_count=True,
            )
            auto_sized_bits = min(
                max(1 << (16 * max(m, 1) - 1).bit_length(), 1 << 23), 1 << 30
            )
        if engine == "bloom":
            # eval set past the broadcast budget: Bloom prefilter +
            # exact verify (identical output, see llm/decontaminate.py)
            # bloom_bits: explicit power of two, "auto" to size from the
            # eval gram count (the default 2^23 only suits SMALL eval
            # sets — see contamination_report_bloom's sizing note), or
            # the engine='auto' probe's measurement when it chose bloom
            bits_cfg = config.get("bloom_bits", auto_sized_bits or 1 << 23)
            return DC.contamination_report_bloom(
                corpus, eval_set,
                n_bits=None if bits_cfg == "auto" else int(bits_cfg),
                k=int(config.get("bloom_hashes", 7)),
                **kwargs,
            )
        fn = DC.contamination_report if config.get("report") else DC.decontaminate
        return fn(corpus, eval_set, **kwargs)

    return transform


@operator("keep_cluster_representatives")
def keep_cluster_representatives_op(config: dict):
    """Collapse near-duplicate clusters to their best doc (r11): merger
    takes (corpus, pairs) inputs in flows — pairs from any of the fuzzy
    families (minhash_dedup / ngram_jaccard / simhash / edit_distance
    ops) — builds components and keeps the highest-``score_field`` doc
    per cluster (ties / no score_field: lowest id, the exact_dedup
    convention). config: {id_field, score_field, src, dst}."""
    from ..llm import dedup as DD

    def transform(corpus: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
        if pairs is None:
            raise ValueError(
                "keep_cluster_representatives needs (corpus, pairs) inputs"
            )
        return DD.keep_cluster_representatives(
            corpus, pairs,
            id_col=config.get("id_field", "doc_id"),
            score_col=config.get("score_field"),
            src=config.get("src", "id_a"),
            dst=config.get("dst", "id_b"),
        )

    return transform


@operator("quantize_embeddings")
def quantize_embeddings_op(config: dict):
    """Symmetric int8 scalar quantization of an embedding column (codes +
    per-vector scale): the 4x storage/shuffle reduction for 100 TB vector
    corpora. config: {field, bits}."""
    from ..llm.similarity import quantize_table

    return lambda df: quantize_table(
        df, vec_col=config.get("field", "embedding"), bits=int(config.get("bits", 8))
    )


@operator("semdedup")
def semdedup_op(config: dict):
    """SemDeDup semantic dedup (cluster-scoped cosine near-dups, keep the
    cluster-edge representative). config: {eps, nlist, id_field,
    vec_field, centroids} — omit centroids to train k-means here."""
    from ..llm import similarity as S

    def transform(df):
        cents = config.get("centroids") or S.train_ivf_centroids(
            df, nlist=int(config.get("nlist", 16)),
            vec_col=config.get("vec_field", "embedding"),
        )
        return S.semdedup(
            df,
            cents,
            float(config.get("eps", 0.05)),
            config.get("id_field", "vec_id"),
            config.get("vec_field", "embedding"),
        )

    return transform


@operator("ann_topk")
def ann_topk_op(config: dict):
    """Approximate nearest-neighbor top-k over an embedding column.
    method 'kmeans_ivf' (default) trains/uses nlist coarse centroids and
    probes the n_probe nearest inverted lists (FAISS IVF-flat layout);
    'sign_lsh' uses the sign-bucket quantizer with optional multi-probe;
    'brute' is the exact scan. Queries = rows where config.query_filter
    SQL holds. config: {field, id_field, k, method, nlist, n_probe,
    bits, query_filter}."""
    from pyspark.sql import functions as F

    from ..llm import similarity as S

    method = config.get("method", "kmeans_ivf")
    k = int(config.get("k", 5))
    id_col = config.get("id_field", "vec_id")
    vec_col = config.get("field", "embedding")
    n_probe = int(config.get("n_probe", 4))

    def transform(df):
        queries = df.filter(config.get("query_filter", "true"))
        if method == "brute":
            return S.brute_force_topk(df, queries, k=k, id_col=id_col, vec_col=vec_col)
        if method == "sign_lsh":
            bits = int(config.get("bits", 8))
            if n_probe > 1:
                return S.ivf_multiprobe_topk(
                    df, queries, k=k, bits=bits, n_probe=n_probe,
                    id_col=id_col, vec_col=vec_col,
                )
            return S.ivf_bucketed_topk(
                df, queries, k=k, bits=bits, id_col=id_col, vec_col=vec_col
            )
        if method == "kmeans_ivf":
            cents = config.get("centroids") or S.train_ivf_centroids(
                df, nlist=int(config.get("nlist", 16)), vec_col=vec_col
            )
            return S.ivf_kmeans_topk(
                df, queries, cents, k=k, n_probe=n_probe,
                id_col=id_col, vec_col=vec_col,
            )
        if method == "pq":
            books = config.get("codebooks") or S.train_pq_codebooks(
                df,
                m=int(config.get("m", 8)),
                k=int(config.get("k_centroids", 16)),
                vec_col=vec_col,
            )
            enc = S.pq_encode(df, books, vec_col=vec_col)
            return S.pq_rerank_topk(
                enc, queries, books, k=k,
                shortlist=int(config.get("shortlist", 50)),
                id_col=id_col, vec_col=vec_col,
            )
        raise ValueError(f"unknown ann method {method!r}")

    return transform


@operator("repetition_stats")
def repetition_stats(config: dict):
    """Duplicated-n-gram repetition metrics (RefinedWeb/Gopher repetition
    removal signal). config: {text_field, n}."""
    text_col = config.get("text_field", "text")
    n = int(config.get("n", 10))
    return lambda df: T.with_repetition_stats(df, text_col, n)


@operator("normalize_text")
def normalize_text_op(config: dict):
    """Unicode normalization stage (NFC default): control-char strip +
    canonical composition + whitespace collapse. config: {text_field,
    form, collapse_whitespace, strip_control, as}."""
    return lambda df: T.normalize_text(
        df,
        config.get("text_field", "text"),
        config.get("form", "NFC"),
        flag(config, "collapse_whitespace", True),
        flag(config, "strip_control", True),
        config.get("as"),
    )


@operator("pii_scrub")
def pii_scrub(config: dict):
    """Redact emails / IPv4 / phone numbers with [KIND] placeholders and
    count redactions per kind (training-data hygiene). config:
    {text_field, kinds}."""
    text_col = config.get("text_field", "text")
    kinds = config.get("kinds")
    return lambda df: T.with_pii_scrubbed(df, text_col, kinds)


@operator("bpe_tokenize")
def bpe_tokenize(config: dict):
    """Train BPE merges on the input corpus (or load a saved model) and
    encode each row's text to subword tokens. config: {text_field, as,
    n_merges, model_path (load instead of train), save_path}."""
    from ..llm import bpe as B

    text_col = config.get("text_field", "text")
    out = config.get("as", "bpe_tokens")
    n_merges = int(config.get("n_merges", 100))
    model_path = config.get("model_path")
    save_path = config.get("save_path")

    def run(df: DataFrame) -> DataFrame:
        if model_path:
            with open(model_path) as f:
                model = B.BpeModel.from_json(f.read())
        else:
            model = B.train_bpe(df, text_col, n_merges)
        if save_path:
            with open(save_path, "w") as f:
                f.write(model.to_json())
        return B.bpe_encode(df, model, text_col, out)

    return run


@operator("weighted_sample")
def weighted_sample_op(config: dict):
    """Deterministic domain-mixture sampling by content hash (identical
    kept-set at any parallelism). config: {weights: {domain: rate},
    domain_field, id_field, default_rate}."""
    from ..llm.mixing import weighted_sample

    return lambda df: weighted_sample(
        df,
        dict(config["weights"]),
        config.get("domain_field", "lang"),
        config.get("id_field", "doc_id"),
        float(config.get("default_rate", 0.0)),
    )


@operator("epoch_shuffle")
def epoch_shuffle_op(config: dict):
    """Deterministic epoch-varying global shuffle order: (shard,
    epoch_pos) as pure functions of (seed, epoch, id) — the
    reproducible dataloader-order contract, shard-partitioned so no
    global sort (llm/mixing.epoch_shuffle). config: {n_shards, seed,
    epoch, id_field}."""
    from ..llm.mixing import epoch_shuffle

    return lambda df: epoch_shuffle(
        df,
        int(config["n_shards"]),
        config.get("id_field", "doc_id"),
        int(config.get("seed", 0)),
        int(config.get("epoch", 0)),
    )


@operator("sample_exact_k")
def sample_exact_k_op(config: dict):
    """Exact-k deterministic sample without replacement (smallest md5
    key; partial top-k, no global sort). config: {k, id_field,
    stratify_field}."""
    from ..llm.mixing import sample_exact_k

    return lambda df: sample_exact_k(
        df,
        int(config["k"]),
        config.get("id_field", "doc_id"),
        config.get("stratify_field"),
    )


@operator("pack_sequences")
def pack_sequences_op(config: dict):
    """Token-budget training-chunk assignment (greedy sequential packing
    per stream). config: {budget, token_count_field, order_field,
    stream_fields, as}."""
    from ..llm.mixing import pack_sequences

    return lambda df: pack_sequences(
        df,
        int(config["budget"]),
        config["token_count_field"],
        config.get("order_field", "doc_id"),
        list(config.get("stream_fields", [])) or None,
        config.get("as", "chunk_id"),
    )


# --- multimodal plumbing as flow operators (VERDICT r4 missing #3:
# "document the production wiring in the flow examples" — these make the
# wiring EXPRESSIBLE in a flow spec, with the ffmpeg seam documented on
# media_frame_timestamps) -------------------------------------------------


@operator("media_synth_mp4")
def media_synth_mp4(config: dict):
    """TEST/DEMO generator stage: synthesize a spec-valid ISO-BMFF (MP4)
    header blob per row from numeric columns, so a flow can exercise the
    probe -> schedule path without real video files. config: {id_field,
    width, height, ms_per_unit}. Deterministic: duration is a pure
    function of the id column."""
    from ..llm.multimodal import attach_binary, make_mp4

    id_col = config.get("id_field", "doc_id")
    width = int(config.get("width", 640))
    height = int(config.get("height", 360))
    ms_per_unit = int(config.get("ms_per_unit", 1000))

    def run(df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def synth(ids):
            return ids.map(
                lambda i: make_mp4(width, height, (int(i) % 30 + 1) * ms_per_unit)
            )

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        blob = pandas_udf("binary")(synth)(F.col(id_col))
        return attach_binary(df.withColumn("__blob", blob), "__blob", "video/mp4")

    return run


@operator("media_probe")
def media_probe(config: dict):
    """Arrow-batched container-header probe over a typed media column:
    (checksum, byte_len, format, width, height, channels, sample_rate,
    duration_ms). Pure stdlib parsing (PNG/JPEG/GIF/BMP/WAV/MP4) — no
    codec binary needed."""
    from ..llm.multimodal import probe_table

    return lambda df: probe_table(df)


@operator("media_frame_timestamps")
def media_frame_timestamps(config: dict):
    """Frame-sampling SCHEDULE from real container metadata: one
    (checksum, ts_ms) row per `interval_ms` of probed media time. This is
    the work-unit table a frame-extract stage consumes; the pixel grab at
    each timestamp is the ffmpeg seam — in production, run a mapInPandas
    stage over this table joined back to the blobs, shelling out to an
    ffmpeg binary shipped to executors via spark.archives (one process
    per Arrow batch, bytes never touch the driver). config:
    {interval_ms, id_field}."""
    from ..llm.multimodal import frame_timestamps_plan

    return lambda df: frame_timestamps_plan(
        df,
        int(config.get("interval_ms", 1000)),
        config.get("id_field", "checksum"),
    )


@operator("duplicate_span_intervals")
def duplicate_span_intervals_op(config: dict):
    """Maximal duplicated-span intervals (merged n-gram windows — the
    Lee et al. removal unit). config: {text_field, id_field, n,
    min_count}."""
    reject_removed_keys("duplicate_span_intervals", config, "engine")
    return lambda df: D.duplicate_span_intervals(
        df,
        config.get("text_field", "text"),
        config.get("id_field", "doc_id"),
        int(config.get("n", 50)),
        int(config.get("min_count", 2)),
    )


@operator("remove_duplicate_spans")
def remove_duplicate_spans_op(config: dict):
    """Substring-removal stage: rewrite documents dropping tokens inside
    maximal duplicated spans; fully-duplicated docs are dropped.
    config: {text_field, id_field, n, min_count}."""
    reject_removed_keys("remove_duplicate_spans", config, "engine")
    return lambda df: D.remove_duplicate_spans(
        df,
        config.get("text_field", "text"),
        config.get("id_field", "doc_id"),
        int(config.get("n", 50)),
        int(config.get("min_count", 2)),
    )


@operator("paragraph_dedup")
def paragraph_dedup_op(config: dict):
    """CCNet/Dolma paragraph-level exact dedup: mark (rebuild=false,
    default) or rewrite (rebuild=true) documents so each paragraph
    survives only at its first corpus occurrence. config: {text_field,
    id_field, sep_regex, rebuild, engine} — engine='slim' shuffles only
    (id, para_idx, md5) through the dedup window and re-joins text over
    an id-repartition (see llm/dedup.paragraph_dedup)."""
    text_col = config.get("text_field", "text")
    id_col = config.get("id_field", "doc_id")
    sep = config.get("sep_regex", r"\n{2,}")
    engine = config.get("engine", "full")
    if config.get("rebuild"):
        return lambda df: D.paragraph_dedup_rebuild(
            df, text_col, id_col, sep, engine=engine
        )
    return lambda df: D.paragraph_dedup(df, text_col, id_col, sep, engine=engine)


@operator("duplicate_ngram_spans")
def duplicate_ngram_spans_op(config: dict):
    """Flag every n-token window occurring >= min_count times corpus-wide
    (substring-dedup signal; Lee et al. 2022). config: {text_field,
    id_field, n, min_count}."""
    return lambda df: D.duplicate_ngram_spans(
        df,
        config.get("text_field", "text"),
        config.get("id_field", "doc_id"),
        int(config.get("n", 50)),
        int(config.get("min_count", 2)),
    )


@operator("ivf_index_write")
def ivf_index_write(config: dict):
    """Materialize k-means IVF inverted lists as a bucketed managed table
    (write once, ANN-query many — llm/similarity.write_ivf_index).
    config: {table, nlist, buckets, id_field, vec_field, mode}. Passes
    the input through so flows can chain the query stage.

    mode='overwrite' (default) trains centroids from the input and
    (re)writes index + centroid table. mode='append' (round 6, verdict
    #4) assigns the batch to the EXISTING persisted centroids and appends
    into the same bucketed layout — no retraining, prior lists untouched,
    bucket pruning preserved; errors if the index does not exist yet."""
    from ..llm import similarity as S

    table = config["table"]
    nlist = int(config.get("nlist", 16))
    buckets = int(config.get("buckets", 16))
    id_col = config.get("id_field", "vec_id")
    vec_col = config.get("vec_field", "embedding")
    mode = config.get("mode", "overwrite")

    def sink(df: DataFrame) -> DataFrame:
        if mode == "append":
            cat = df.sparkSession.catalog
            # check BOTH halves: centroids can survive a dropped/failed
            # index table, and appending would then silently create a
            # fresh index holding only this batch
            missing = [
                t for t in (table, f"{table}_centroids") if not cat.tableExists(t)
            ]
            if missing:
                raise ValueError(
                    f"ivf_index_write mode='append' needs an existing index "
                    f"(missing {', '.join(missing)}); write with "
                    f"mode='overwrite' first"
                )
            S.append_ivf_index(df, table, id_col, vec_col, buckets)
            return df
        cents = S.train_ivf_centroids(df, nlist=nlist, vec_col=vec_col)
        S.write_ivf_index(df, table, cents, id_col, vec_col, buckets, mode)
        # persist centroids next to the table for the query stage
        df.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "centroid_id int, centroid array<double>"
        ).write.mode(mode).saveAsTable(f"{table}_centroids")
        return df

    return sink


@operator("ann_topk_from_index")
def ann_topk_from_index(config: dict):
    """ANN top-k over a prebuilt IVF index (ivf_index_write): the piped
    DataFrame is the QUERY set; probes read only the probed lists'
    buckets. config: {table, k, n_probe, id_field, vec_field}."""
    from ..llm import similarity as S

    table = config["table"]
    k = int(config.get("k", 5))
    n_probe = int(config.get("n_probe", 4))
    id_col = config.get("id_field", "vec_id")
    vec_col = config.get("vec_field", "embedding")

    def transform(queries: DataFrame) -> DataFrame:
        spark = queries.sparkSession
        cents = [
            [float(x) for x in r["centroid"]]
            for r in spark.table(f"{table}_centroids").orderBy("centroid_id").collect()
        ]
        return S.ivf_topk_from_index(
            spark, table, queries, cents, k, n_probe, id_col, vec_col
        )

    return transform


@operator("write_eval_grams")
def write_eval_grams(config: dict):
    """Materialize the FROZEN distinct eval gram-hash table from the
    piped eval DataFrame (llm/decontaminate.write_eval_gram_table — the
    build-once artifact every incremental/streaming decontamination
    reads), flow-reachable so a lifecycle flow can version its eval
    artifacts in the same config DAG that consumes them. Passthrough:
    returns the input unchanged; downstream decontaminate_ingest_batch
    nodes take this node as their second input purely as the DAG edge
    that orders the artifact write before the first batch. config:
    {path, text_field, n, normalize, eval_id_field} — eval_id_field
    writes the ATTRIBUTED (eval_id, gram) variant for attribution
    consumers."""
    from ..llm.decontaminate import write_eval_gram_table

    def transform(df: DataFrame) -> DataFrame:
        write_eval_gram_table(
            df, config["path"],
            text_col=config.get("text_field", "text"),
            n=int(config.get("n", 13)),
            normalize=flag(config, "normalize", False),
            eval_id=config.get("eval_id_field"),
        )
        return df

    return transform


@operator("write_eval_fuzzy")
def write_eval_fuzzy(config: dict):
    """Materialize the FROZEN fuzzy-decontamination eval artifact from
    the piped eval DataFrame (llm/decontaminate.write_eval_fuzzy_table:
    (eval_id, shingles, signature) + sidecar — the verify side every
    incremental/streaming FUZZY decontamination reads), flow-reachable
    like write_eval_grams so a lifecycle flow versions it in the same
    config DAG. Passthrough: returns the input unchanged; wire it as a
    downstream ingest node's second input for the artifact-gate edge.
    config: {path, text_field, eval_id_field, n, normalize}."""
    from ..llm.decontaminate import write_eval_fuzzy_table

    def transform(df: DataFrame) -> DataFrame:
        write_eval_fuzzy_table(
            df, config["path"],
            text_col=config.get("text_field", "text"),
            eval_id=config.get("eval_id_field", "eval_id"),
            n=int(config.get("n", 3)),
            normalize=flag(config, "normalize", False),
        )
        return df

    return transform


@operator("decontaminate_ingest_batch")
def decontaminate_ingest_batch(config: dict):
    """One micro-batch of STREAMING decontamination against frozen eval
    gram artifacts, flow-reachable (the decontamination twin of
    dedup_ingest_batch / ann_ingest_batch — r12, closing the lifecycle
    gap: the report/spans/policy processors existed but no config DAG
    could run them). The piped documents' ``where`` slice runs through
    the chosen processor (streaming/llm.make_decontaminate_*): mode
    'report' writes per-doc (doc_id, n_matched_grams) rows, 'spans'
    writes the span-cut rewrite, 'policy' additionally drops docs more
    than ``max_frac`` contaminated, 'attribution' (r12) writes
    per-(doc, eval) shared-gram rows against an ATTRIBUTED artifact
    (write_eval_grams with eval_id_field), 'fuzzy' (r13) writes
    per-(doc, eval) near-dup (doc_id, eval_id, jaccard) rows at
    ``threshold`` against a write_eval_fuzzy artifact — all to the
    batch_id-partitioned ``out_dir`` with the dynamic-overwrite replay
    contract. Passthrough:
    returns the FULL input so a flow chains further batches; an optional
    SECOND input is accepted and ignored data-wise — wire the
    write_eval_grams node there to make the artifact-write-then-ingest
    ordering an explicit DAG edge instead of a declaration-order
    accident. ``bloom_path`` loads a saved gram bloom (n/normalize
    metadata cross-checked — disjoint hash spaces fail loudly) for the
    beyond-broadcast regime; without it the stored table is cached +
    broadcast-hinted for the batch and released right after (each flow
    node is self-contained; a long-lived stream keeps the cache and
    exposes unpersist_eval instead). ``compact_every`` folds the store
    in-flow exactly as the other ingest ops. config: {eval_grams_dir,
    out_dir, batch_id, where, mode, max_frac, threshold, n, normalize,
    bloom_path, text_field, id_field, compact_every}."""
    from ..streaming.llm import (
        auto_compacting,
        make_attribution_batch_processor,
        make_decontaminate_batch_processor,
        make_decontaminate_spans_batch_processor,
        make_decontaminate_spans_policy_batch_processor,
        make_fuzzy_decontaminate_batch_processor,
    )

    reject_removed_keys(
        "decontaminate_ingest_batch", config, "keep_latest", "compact_label"
    )
    mode = config.get("mode", "report")
    if mode not in ("report", "spans", "policy", "attribution", "fuzzy"):
        raise ValueError(
            f"decontaminate_ingest_batch mode must be "
            f"report|spans|policy|attribution|fuzzy, got {mode!r}"
        )
    if config.get("max_frac") is not None and mode != "policy":
        raise ValueError(
            "max_frac is the mode='policy' threshold; with "
            f"mode={mode!r} it would be silently ignored"
        )
    if config.get("threshold") is not None and mode != "fuzzy":
        raise ValueError(
            "threshold is the mode='fuzzy' Jaccard cutoff; with "
            f"mode={mode!r} it would be silently ignored"
        )
    if config.get("bloom_path") and mode == "fuzzy":
        raise ValueError(
            "mode='fuzzy' verifies against the frozen "
            "(eval_id, shingles, signature) artifact — there is no gram "
            "bloom regime; drop bloom_path"
        )

    def transform(df: DataFrame, _artifact_gate: DataFrame | None = None) -> DataFrame:
        n = int(config.get("n", 13))
        normalize = flag(config, "normalize", False)
        bloom, bloom_k = None, 7
        if config.get("bloom_path"):
            from ..llm.decontaminate import load_gram_bloom

            bloom, bloom_k = load_gram_bloom(
                config["bloom_path"], expect_n=n, expect_normalize=normalize
            )
        common = (
            df.sparkSession, config["eval_grams_dir"], config["out_dir"],
        )
        tail = (
            bloom, bloom_k,
            config.get("text_field", "text"),
            config.get("id_field", "doc_id"),
            n, normalize,
        )
        if mode == "report":
            proc = make_decontaminate_batch_processor(*common, *tail)
        elif mode == "spans":
            proc = make_decontaminate_spans_batch_processor(*common, *tail)
        elif mode == "attribution":
            # the frozen table must be ATTRIBUTED (write_eval_grams with
            # eval_id_field set); the processor validates the sidecar
            proc = make_attribution_batch_processor(*common, *tail)
        elif mode == "fuzzy":
            # the frozen table must be a write_eval_fuzzy artifact (its
            # _fuzzy_meta.json sidecar is validated, geometry included)
            proc = make_fuzzy_decontaminate_batch_processor(
                *common, float(config.get("threshold", 0.8)),
                config.get("text_field", "text"),
                config.get("id_field", "doc_id"),
                n, normalize,
            )
        else:
            proc = make_decontaminate_spans_policy_batch_processor(
                *common, float(config.get("max_frac", 0.5)), *tail
            )
        proc = auto_compacting(
            proc, df.sparkSession, [(config["out_dir"], ())],
            config.get("compact_every"),
        )
        batch = df.filter(config["where"]) if config.get("where") else df
        try:
            proc(batch, int(config.get("batch_id", 0)))
        finally:
            proc.unpersist_eval()
        return df

    return transform


@operator("ann_ingest_batch")
def ann_ingest_batch(config: dict):
    """One micro-batch of STREAMING ANN-index ingestion, flow-reachable:
    the piped DataFrame's vectors are assigned to the frozen coarse
    centroids and land in the (batch_id, list_id)-partitioned index
    (idempotent dynamic overwrite — streaming/llm.
    make_ann_ingest_batch_processor). Passthrough: returns the input so
    a flow can chain. ``compact_every`` (r10, verdict #8) folds the
    (batch_id, list_id) index after every Nth committed batch via
    auto_compacting — the in-flow form of ann_index_compact. config:
    {index_dir, centroids: [[...]], batch_id, id_field, vec_field,
    compact_every}."""
    from ..streaming.llm import auto_compacting, make_ann_ingest_batch_processor

    reject_removed_keys("ann_ingest_batch", config, "keep_latest", "compact_label")

    def transform(df: DataFrame) -> DataFrame:
        proc = make_ann_ingest_batch_processor(
            df.sparkSession,
            config["index_dir"],
            [[float(x) for x in c] for c in config["centroids"]],
            config.get("id_field", "vec_id"),
            config.get("vec_field", "embedding"),
        )
        proc = auto_compacting(
            proc, df.sparkSession,
            [(config["index_dir"], ("list_id",))],
            config.get("compact_every"),
        )
        proc(df, int(config.get("batch_id", 0)))
        return df

    return transform


@operator("ann_probe_ingested")
def ann_probe_ingested_op(config: dict):
    """Probe a streaming-ingested ANN index (partition-pruned list scan,
    streaming/llm.ann_probe_ingested): the piped DataFrame is the QUERY
    set. config: {index_dir, centroids, k, n_probe, id_field,
    vec_field}."""
    from ..streaming.llm import ann_probe_ingested as _probe

    def transform(queries: DataFrame) -> DataFrame:
        return _probe(
            queries.sparkSession,
            config["index_dir"],
            queries,
            [[float(x) for x in c] for c in config["centroids"]],
            int(config.get("k", 5)),
            int(config.get("n_probe", 4)),
            config.get("id_field", "vec_id"),
            config.get("vec_field", "embedding"),
        )

    return transform


@operator("ann_index_compact")
def ann_index_compact(config: dict):
    """Fold committed batch partitions of a streaming-ingested ANN index
    into the compacted partition (streaming/llm.compact_ann_index — the
    small-files maintenance stage for long-running ingestion flows).
    Passthrough: the piped DataFrame flows on unchanged. config:
    {index_dir}."""
    from ..streaming.llm import compact_ann_index

    reject_removed_keys("ann_index_compact", config, "keep_latest", "compact_label")

    def transform(df: DataFrame) -> DataFrame:
        compact_ann_index(df.sparkSession, config["index_dir"])
        return df

    return transform


@operator("dedup_ingest_batch")
def dedup_ingest_batch(config: dict):
    """One micro-batch of STREAMING exact-dedup ingestion, flow-reachable
    (the dedup twin of ann_ingest_batch): the piped documents run through
    the content-hash store processor — first-seen contents land in
    ``out_dir``, their md5s accumulate in the store, replays of a
    committed batch_id skip (streaming/llm.
    make_exact_dedup_batch_processor). Passthrough: returns the FULL
    input so a flow can chain further batches. ``where`` (optional SQL
    predicate) selects this batch's slice of the piped rows — how a
    replay flow carves one table into sequential micro-batches.
    ``compact_every`` (r10, verdict #8) wraps the processor in
    auto_compacting: both store directories fold themselves after every
    Nth committed batch — the flow-level expression of in-stream
    small-files maintenance, no explicit batch_store_compact node
    needed. config: {store_dir, out_dir, batch_id, where, text_field,
    id_field, compact_every}."""
    import os

    from ..streaming.llm import auto_compacting, make_exact_dedup_batch_processor

    reject_removed_keys("dedup_ingest_batch", config, "keep_latest", "compact_label")

    def transform(df: DataFrame) -> DataFrame:
        proc = make_exact_dedup_batch_processor(
            df.sparkSession,
            config["store_dir"],
            config["out_dir"],
            config.get("text_field", "text"),
            config.get("id_field", "doc_id"),
        )
        proc = auto_compacting(
            proc, df.sparkSession,
            [
                (config["out_dir"], ()),
                (os.path.join(config["store_dir"], "content_md5"), ()),
            ],
            config.get("compact_every"),
        )
        batch = df.filter(config["where"]) if config.get("where") else df
        proc(batch, int(config.get("batch_id", 0)))
        return df

    return transform


@operator("batch_store_compact")
def batch_store_compact(config: dict):
    """Fold committed batch partitions of ANY batch_id-partitioned
    streaming store (dedup hash stores, kept-doc outputs, score stores;
    streaming/llm.compact_batch_store — r9 generalization of
    ann_index_compact) into the compacted partition. Passthrough: the
    piped DataFrame flows on unchanged. config: {store_dir,
    partition_cols, target_files}."""
    from ..streaming.llm import compact_batch_store

    reject_removed_keys("batch_store_compact", config, "keep_latest", "compact_label")

    def transform(df: DataFrame) -> DataFrame:
        compact_batch_store(
            df.sparkSession,
            config["store_dir"],
            extra_partition_cols=tuple(config.get("partition_cols", ())),
            target_files=(
                int(config["target_files"])
                if config.get("target_files") is not None
                else None
            ),
        )
        return df

    return transform


def _with_tokens(df: DataFrame, config: dict) -> tuple[DataFrame, str, bool]:
    """tokens_field passthrough (default: an existing `tokens` column),
    or derive a temp token array by whitespace-splitting text_field
    (flow specs carry text columns)."""
    tokens = config.get("tokens_field")
    if tokens is not None:
        return df, tokens, False
    text = config.get("text_field")
    if text is None and "tokens" in df.columns:
        return df, "tokens", False
    text = text or "text"
    return df.withColumn("__lm_toks", F.split(F.col(text), " ")), "__lm_toks", True


@operator("ngram_lm_score")
def ngram_lm_score_op(config: dict):
    """CCNet perplexity stage (llm/ngram_lm.py): train a stupid-backoff
    n-gram LM on the piped corpus and score every document. config:
    {tokens_field | text_field, id_field, n, min_count, alpha,
    persist_model}."""
    from ..llm.ngram_lm import score_ngram_lm, train_ngram_lm

    def transform(df: DataFrame) -> DataFrame:
        d, tokens, _ = _with_tokens(df, config)
        lm = train_ngram_lm(
            d,
            tokens_col=tokens,
            id_col=config.get("id_field", "doc_id"),
            n=int(config.get("n", 3)),
            min_count=int(config.get("min_count", 2)),
            # persist=True also folds the token-total scan into the
            # fused-counts job (one corpus pass; optimization r13)
            persist=flag(config, "persist_model", True),
        )
        return score_ngram_lm(
            d,
            lm,
            tokens_col=tokens,
            id_col=config.get("id_field", "doc_id"),
            alpha=float(config.get("alpha", 0.4)),
        )

    return transform


@operator("ngram_perplexity_filter")
def ngram_perplexity_filter_op(config: dict):
    """Keep documents with stupid-backoff perplexity <= max_ppl (CCNet
    keep-the-head as a threshold). config: {tokens_field | text_field,
    id_field, n, min_count, alpha, max_ppl}."""
    from ..llm.ngram_lm import perplexity_filter, train_ngram_lm

    def transform(df: DataFrame) -> DataFrame:
        d, tokens, temp = _with_tokens(df, config)
        lm = train_ngram_lm(
            d,
            tokens_col=tokens,
            id_col=config.get("id_field", "doc_id"),
            n=int(config.get("n", 3)),
            min_count=int(config.get("min_count", 2)),
            persist=True,
        )
        kept = perplexity_filter(
            d,
            lm,
            tokens_col=tokens,
            id_col=config.get("id_field", "doc_id"),
            max_ppl=float(config.get("max_ppl", 1e6)),
            alpha=float(config.get("alpha", 0.4)),
        )
        return kept.drop("__lm_toks") if temp else kept

    return transform


@operator("ngram_perplexity_buckets")
def ngram_perplexity_buckets_op(config: dict):
    """CCNet head/middle/tail perplexity terciles, per-language when
    lang_field is set. config: {tokens_field | text_field, id_field,
    lang_field, n, min_count, alpha}."""
    from ..llm.ngram_lm import (
        perplexity_buckets,
        score_ngram_lm,
        train_ngram_lm,
    )

    def transform(df: DataFrame) -> DataFrame:
        d, tokens, _ = _with_tokens(df, config)
        idc = config.get("id_field", "doc_id")
        lm = train_ngram_lm(
            d, tokens_col=tokens, id_col=idc,
            n=int(config.get("n", 3)),
            min_count=int(config.get("min_count", 2)),
            persist=True,
        )
        scored = score_ngram_lm(
            d, lm, tokens_col=tokens, id_col=idc,
            alpha=float(config.get("alpha", 0.4)),
        )
        lang = config.get("lang_field")
        lang_df = df.select(idc, lang).withColumnRenamed(lang, "lang") if lang else None
        return perplexity_buckets(scored, lang_df, id_col=idc)

    return transform


@operator("ivfpq_index_write")
def ivfpq_index_write(config: dict):
    """Build/write an IVF-PQ index over the piped vectors (llm/similarity
    write_ivfpq_index): trains the coarse quantizer + residual PQ
    codebooks, stores codes bucketed by list_id, and persists centroids +
    codebooks next to the index for later probes; mode='append' assigns
    and encodes the batch against the EXISTING frozen model instead (no
    retrain — batch-vs-corpus, same contract as ivf_index_write append).
    Passes the input through (sink semantics). config: {table, nlist, m,
    k_codes, buckets, id_field, vec_field, mode}."""
    from ..llm import similarity as S

    table = config["table"]
    nlist = int(config.get("nlist", 16))
    m = int(config.get("m", 4))
    k_codes = int(config.get("k_codes", 16))
    buckets = int(config.get("buckets", 16))
    id_col = config.get("id_field", "vec_id")
    vec_col = config.get("vec_field", "embedding")
    mode = config.get("mode", "overwrite")

    def sink(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        if mode == "append":
            cat = spark.catalog
            missing = [
                t
                for t in (table, f"{table}_centroids", f"{table}_codebooks")
                if not cat.tableExists(t)
            ]
            if missing:
                raise ValueError(
                    f"ivfpq_index_write mode='append' needs an existing "
                    f"index (missing {', '.join(missing)}); write with "
                    f"mode='overwrite' first"
                )
            cents, books = S.load_ivfpq_model(spark, table)
            S.append_ivfpq_index(df, table, cents, books, id_col, vec_col, buckets)
            return df
        cents, books = S.train_ivfpq(df, nlist=nlist, m=m, k_codes=k_codes,
                                     vec_col=vec_col)
        S.write_ivfpq_index(df, table, cents, books, id_col, vec_col, buckets)
        cent_rows = [(i + 1, c) for i, c in enumerate(cents)]
        spark.createDataFrame(
            cent_rows, "centroid_id int, centroid array<double>"
        ).write.mode("overwrite").saveAsTable(f"{table}_centroids")
        book_rows = [
            (j, ci, c)
            for j, book in enumerate(books)
            for ci, c in enumerate(book)
        ]
        spark.createDataFrame(
            book_rows, "subspace int, code int, centroid array<double>"
        ).write.mode("overwrite").saveAsTable(f"{table}_codebooks")
        return df

    return sink


@operator("ivfpq_topk_from_index")
def ivfpq_topk_from_index_op(config: dict):
    """IVF-PQ ANN over a prebuilt index (ivfpq_index_write): the piped
    DataFrame is the QUERY set; probes prune to the probed lists'
    buckets, ADC scores the codes, exact cosine re-ranks the shortlist.
    config: {table, k, n_probe, shortlist, id_field, vec_field}."""
    from ..llm import similarity as S

    table = config["table"]

    def transform(queries: DataFrame) -> DataFrame:
        spark = queries.sparkSession
        cents, books = S.load_ivfpq_model(spark, table)
        return S.ivfpq_topk_from_index(
            spark, table, queries, cents, books,
            k=int(config.get("k", 5)),
            n_probe=int(config.get("n_probe", 4)),
            shortlist=int(config.get("shortlist", 50)),
            id_col=config.get("id_field", "vec_id"),
            vec_col=config.get("vec_field", "embedding"),
        )

    return transform


@operator("arpa_lm_score")
def arpa_lm_score_op(config: dict):
    """Score documents with a PRETRAINED ARPA language model (the real
    CCNet setting — llm/ngram_lm.py read_arpa/score_arpa: distributed
    parse, Katz backoff as broadcast-join cascades). config:
    {model_path, tokens_field | text_field, id_field, broadcast}."""
    from ..llm.ngram_lm import read_arpa, score_arpa

    def transform(df: DataFrame) -> DataFrame:
        d, tokens, _ = _with_tokens(df, config)
        lm = read_arpa(df.sparkSession, config["model_path"]).persist()
        return score_arpa(
            d,
            lm,
            tokens_col=tokens,
            id_col=config.get("id_field", "doc_id"),
            broadcast_tables=flag(config, "broadcast", True),
        )

    return transform


@operator("dsir_select")
def dsir_select_op(config: dict):
    """DSIR data selection (llm/dsir.py — Xie et al. 2023): flows pipe
    (raw_corpus, target_sample) inputs, get back the k raw documents
    importance-resampled toward the target's hashed-n-gram distribution.
    config: {k, buckets, max_n, smoothing, method: topk|gumbel, seed,
    tokens_field | text_field, id_field}."""
    from ..llm.dsir import dsir_select

    def transform(raw: DataFrame, target: DataFrame | None = None) -> DataFrame:
        if target is None:
            raise ValueError("dsir_select needs (raw_corpus, target) inputs")
        d_raw, tokens, _ = _with_tokens(raw, config)
        d_tgt, _, _ = _with_tokens(target, config)
        return dsir_select(
            d_raw,
            d_tgt,
            k=int(config.get("k", 1000)),
            tokens_col=tokens,
            id_col=config.get("id_field", "doc_id"),
            buckets=int(config.get("buckets", 4096)),
            max_n=int(config.get("max_n", 2)),
            smoothing=float(config.get("smoothing", 1.0)),
            method=config.get("method", "topk"),
            seed=config.get("seed", "dsir"),
        )

    return transform


@operator("lm_score_buckets")
def lm_score_buckets_op(config: dict):
    """CCNet head/middle/tail with exact engine-portable terciles over an
    LM-scored frame (ngram_lm.lm_score_buckets_exact): buckets on the
    integer per-token score floordiv(score, n) with value cutoffs, so tie
    groups never split. config: {id_field, lang_field, score_field,
    n_field}."""
    from ..llm.ngram_lm import lm_score_buckets_exact

    return lambda df: lm_score_buckets_exact(
        df,
        id_col=config.get("id_field", "doc_id"),
        lang_col=config.get("lang_field"),
        score_col=config.get("score_field", "lp_q20"),
        n_col=config.get("n_field", "n_pos"),
    )


@operator("temperature_sample")
def temperature_sample_op(config: dict):
    """Temperature-based mixture rebalancing (llm/mixing.
    temperature_sample — XLM-R alpha-sampling): final domain counts
    proportional to p^alpha via deterministic hash downsampling. config:
    {alpha, domain_field, id_field}."""
    from ..llm.mixing import temperature_sample

    return lambda df: temperature_sample(
        df,
        alpha=float(config.get("alpha", 0.5)),
        domain_col=config.get("domain_field", "lang"),
        id_col=config.get("id_field", "doc_id"),
    )


@operator("chunk_documents")
def chunk_documents_op(config: dict):
    """Context-window chunking (llm/mixing.chunk_documents): split long
    documents into max_tokens-sized chunks with optional overlap (stride
    < max_tokens) — per-row array algebra, stream-legal. config:
    {max_tokens, stride, tokens_field | text_field, id_field,
    keep_fields}."""
    from ..llm.mixing import chunk_documents

    def transform(df: DataFrame) -> DataFrame:
        d, tokens, _ = _with_tokens(df, config)
        return chunk_documents(
            d,
            max_tokens=int(config["max_tokens"]),
            stride=int(config["stride"]) if config.get("stride") else None,
            tokens_col=tokens,
            id_col=config.get("id_field", "doc_id"),
            keep_cols=tuple(config.get("keep_fields", ())),
        )

    return transform


@operator("html_extract_text")
def html_extract_text_op(config: dict):
    """WET-style HTML -> text extraction (llm/text.html_extract_text):
    drop script/style, break blocks, strip tags, decode entities,
    collapse whitespace — pure codegen regex chain. config: {html_field,
    out_field}."""
    from ..llm.text import html_extract_text

    html_col = config.get("html_field", "html")
    out = config.get("out_field", "text")
    return lambda df: df.withColumn(out, html_extract_text(html_col))


@operator("budget_sample")
def budget_sample_op(config: dict):
    """Token-budget mixture carve-out (llm/mixing.budget_sample): per
    domain, keep docs in deterministic md5(id) order until the token
    budget fills. config: {budget_tokens | budgets, token_field,
    domain_field, id_field}."""
    from ..llm.mixing import budget_sample

    return lambda df: budget_sample(
        df,
        budget_tokens=(
            int(config["budget_tokens"]) if config.get("budget_tokens") else None
        ),
        budgets={k: int(v) for k, v in config["budgets"].items()}
        if config.get("budgets")
        else None,
        token_col=config.get("token_field", "n_tokens"),
        domain_col=config.get("domain_field", "lang"),
        id_col=config.get("id_field", "doc_id"),
    )


@operator("semantic_decontaminate")
def semantic_decontaminate_op(config: dict):
    """Embedding-level decontamination (llm/decontaminate.
    semantic_decontaminate): flows pipe (corpus, eval_set); corpus rows
    cosine-similar to any eval vector are dropped (report=True returns
    the audit table instead). config: {threshold, vec_field, id_field,
    eval_vec_field, report}."""
    from ..llm.decontaminate import semantic_decontaminate

    def transform(corpus: DataFrame, eval_set: DataFrame | None = None) -> DataFrame:
        if eval_set is None:
            raise ValueError("semantic_decontaminate needs (corpus, eval_set) inputs")
        return semantic_decontaminate(
            corpus,
            eval_set,
            threshold=float(config.get("threshold", 0.9)),
            corpus_vec=config.get("vec_field", "embedding"),
            corpus_id=config.get("id_field", "doc_id"),
            eval_vec=config.get("eval_vec_field", config.get("vec_field", "embedding")),
            report=flag(config, "report", False),
        )

    return transform


@operator("image_resize_stats")
def image_resize_stats_op(config: dict):
    """Decode + REAL nearest-neighbor resize + stats over a binary media
    column (multimodal.resize_stats_table — stdlib PNG/JPEG decode, exact
    integer resample, Arrow batches). config: {out_w, out_h, id_field,
    media_field}."""
    from ..llm.multimodal import resize_stats_table

    return lambda df: resize_stats_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        out_w=int(config.get("out_w", 8)),
        out_h=int(config.get("out_h", 8)),
    )


@operator("audio_resample_stats")
def audio_resample_stats_op(config: dict):
    """Decode + REAL nearest-index PCM resample + stats over a binary
    WAV column (multimodal.audio_resample_stats_table). config: {n_out,
    id_field, media_field}."""
    from ..llm.multimodal import audio_resample_stats_table

    return lambda df: audio_resample_stats_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        n_out=int(config.get("n_out", 50)),
    )


@operator("image_crop_stats")
def image_crop_stats_op(config: dict):
    """Decode + deterministic seeded crop + stats over a binary media
    column (multimodal.crop_stats_table — reproducible random-crop
    augmentation). config: {crop_w, crop_h, seed, id_field,
    media_field}."""
    from ..llm.multimodal import crop_stats_table

    return lambda df: crop_stats_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        crop_w=int(config.get("crop_w", 4)),
        crop_h=int(config.get("crop_h", 2)),
        seed=config.get("seed", "crop"),
    )


@operator("image_dhash")
def image_dhash_op(config: dict):
    """Perceptual dHash signatures over a binary media column
    (multimodal.image_dhash_table — decode + 9x8 gradient-sign bits).
    config: {id_field, media_field}."""
    from ..llm.multimodal import image_dhash_table

    return lambda df: image_dhash_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
    )


@operator("image_dhash_pairs")
def image_dhash_pairs_op(config: dict):
    """Near-duplicate image pairs from a dHash table (multimodal.
    image_dhash_near_pairs — banded byte-chunk candidates + bit_count
    verify; pigeonhole-complete to Hamming 7). config: {max_hamming,
    id_field}."""
    from ..llm.multimodal import image_dhash_near_pairs

    return lambda df: image_dhash_near_pairs(
        df,
        max_hamming=int(config.get("max_hamming", 6)),
        id_col=config.get("id_field", "id"),
    )


@operator("media_synth_avi")
def media_synth_avi(config: dict):
    """TEST/DEMO generator stage: synthesize a real, frame-carrying AVI
    per row (multimodal.make_avi — 'DIB ' uncompressed or 'MJPG'
    baseline-JPEG frames), so a flow can exercise the full video ->
    pixels path without external files. config: {id_field, width,
    height, n_frames, codec}. Deterministic: the frame gradient is a
    pure function of the id column."""
    from ..llm.multimodal import make_avi

    id_col = config.get("id_field", "doc_id")
    width = int(config.get("width", 8))
    height = int(config.get("height", 6))
    n_frames = int(config.get("n_frames", 3))
    codec = config.get("codec", "DIB ")

    def run(df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def synth(ids):
            return ids.map(
                lambda i: make_avi(
                    width, height, n_frames, codec=codec,
                    gradient=(int(i) % 256, 3, 7, 11),
                )
            )

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        blob = pandas_udf("binary")(synth)(F.col(id_col))
        # keep the id column: downstream per-frame ops key on it
        # (attach_binary's checksum-keyed shape fits probe pipelines,
        # not frame extraction)
        return df.withColumn("__blob", blob).select(
            F.col(id_col),
            F.col("__blob").cast("binary").alias("media"),
            F.lit("video/avi").alias("media_type"),
            F.length(F.col("__blob").cast("binary")).cast("bigint").alias("byte_len"),
        )

    return run


@operator("video_frame_pixels")
def video_frame_pixels_op(config: dict):
    """REAL distributed video frame extraction over a binary media
    column (multimodal.video_frame_stats_table): decode every AVI's
    'DIB '/'MJPG' frames inside Arrow batches and emit one
    (id, frame_idx, dims, pixel stats) row per frame. Pixels never leave
    the executor — only per-frame aggregates shuffle (the 100 TB shape).
    Other codecs raise at the documented ffmpeg seam. config:
    {id_field, media_field}."""
    from ..llm.multimodal import video_frame_stats_table

    return lambda df: video_frame_stats_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
    )


@operator("audio_fingerprint")
def audio_fingerprint_op(config: dict):
    """Energy-delta audio fingerprints over a binary WAV column
    (multimodal.audio_fingerprint_table — framed integer energies,
    delta-sign bits). config: {id_field, media_field, n_frames}."""
    from ..llm.multimodal import audio_fingerprint_table

    return lambda df: audio_fingerprint_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        n_frames=int(config.get("n_frames", 65)),
    )


@operator("audio_fingerprint_pairs")
def audio_fingerprint_pairs_op(config: dict):
    """Near-duplicate audio pairs from a fingerprint table (multimodal.
    audio_fingerprint_near_pairs — banded byte-chunk candidates +
    bit_count verify; pigeonhole-complete to Hamming 7). config:
    {max_hamming, id_field}."""
    from ..llm.multimodal import audio_fingerprint_near_pairs

    return lambda df: audio_fingerprint_near_pairs(
        df,
        max_hamming=int(config.get("max_hamming", 6)),
        id_col=config.get("id_field", "id"),
    )


@operator("audio_features")
def audio_features_op(config: dict):
    """Framed DSP features over 16-bit PCM WAV media (multimodal.
    audio_features_table — zero crossings, peak amplitude, loudest
    frame by exact integer energy). config: {id_field, media_field,
    n_frames}."""
    from ..llm.multimodal import audio_features_table

    return lambda df: audio_features_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        n_frames=int(config.get("n_frames", 16)),
    )


@operator("video_frame_dhash")
def video_frame_dhash_op(config: dict):
    """Per-frame perceptual dHash over a binary AVI column
    (multimodal.video_frame_dhash_table): frame pixels reduce to 8-byte
    signatures inside the decode task. config: {id_field, media_field}."""
    from ..llm.multimodal import video_frame_dhash_table

    return lambda df: video_frame_dhash_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
    )


@operator("video_scene_cuts")
def video_scene_cuts_op(config: dict):
    """Scene-cut detection over per-frame dHash signatures
    (multimodal.video_scene_cuts — LAG + bit_count window, one shuffle
    keyed on the video id). config: {threshold, id_field}."""
    from ..llm.multimodal import video_scene_cuts

    return lambda df: video_scene_cuts(
        df,
        threshold=int(config.get("threshold", 8)),
        id_col=config.get("id_field", "id"),
    )


@operator("video_sample_timestamps")
def video_sample_timestamps_op(config: dict):
    """Sample-accurate frame timestamps from the real stts table
    (multimodal.video_sample_timestamps_table) — the schedule a
    frame-extract stage consumes when the container carries sample
    timing, superseding the interval-derived media_frame_timestamps.
    config: {id_field, media_field}."""
    from ..llm.multimodal import video_sample_timestamps_table

    return lambda df: video_sample_timestamps_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
    )


@operator("image_luma_histogram")
def image_luma_histogram_op(config: dict):
    """Integer luma histogram per image (multimodal.
    image_luma_histogram_table) — the flat/low-entropy image curation
    signal; histograms, not pixels, shuffle. config: {id_field,
    media_field, bins}."""
    from ..llm.multimodal import image_luma_histogram_table

    return lambda df: image_luma_histogram_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        bins=int(config.get("bins", 16)),
    )


@operator("tar_members")
def tar_members_op(config: dict):
    """Extract tar-shard members into (shard_id, key, ext, byte_len,
    data) rows (multimodal.untar_members_table — the WebDataset key
    split). config: {id_field, shard_field}."""
    from ..llm.multimodal import untar_members_table

    return lambda df: untar_members_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        shard_col=config.get("shard_field", "shard"),
    )


@operator("webdataset_samples")
def webdataset_samples_op(config: dict):
    """Group tar members into WebDataset samples: one row per
    (shard_id, key) with ext->bytes / ext->size maps
    (multimodal.webdataset_samples)."""
    from ..llm.multimodal import webdataset_samples

    return lambda df: webdataset_samples(df)


@operator("pack_tar_shards")
def pack_tar_shards_op(config: dict):
    """Repack WebDataset samples into n_shards deterministic tar shards
    (multimodal.pack_tar_shards — key-hash assignment, sorted members,
    zeroed metadata). Feed the output to binary_files_sink to land
    .tar files. config: {n_shards, shard_col} — ``shard_col`` names a
    caller-computed integer assignment column (an oracle-replicable
    SQL rule) instead of the key hash."""
    from ..llm.multimodal import pack_tar_shards

    return lambda df: pack_tar_shards(
        df,
        n_shards=int(config.get("n_shards", 16)),
        shard_col=config.get("shard_col"),
    )


@operator("media_synth_tar")
def media_synth_tar(config: dict):
    """TEST/DEMO generator stage: synthesize a deterministic WebDataset
    tar shard per row (multimodal.make_tar_shard — payload + .txt
    caption per sample). config: {id_field, samples_per_shard,
    payload: 'bytes' (opaque, sizes arithmetic in the id) | 'png'
    (REAL decodable gradient PNGs whose dHash classes collide across
    shards — the perceptual-dedup fixture)}."""
    from ..llm.multimodal import make_png, make_tar_shard

    id_col = config.get("id_field", "doc_id")
    per = int(config.get("samples_per_shard", 3))
    payload = config.get("payload", "bytes")

    def run(df: DataFrame) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def synth(ids):
            def mk(i):
                i = int(i)
                members = []
                for k in range(per):
                    if payload == "png":
                        dx = [3, 253, 101, 11, 29, 57, 201][(i + k) % 7]
                        body = make_png(
                            6 + (i + k) % 5, 5 + k % 3,
                            gradient=((i * 7 + k) % 256, dx, 7),
                            text_chunks=[("Author", "cam" * (1 + i % 4))],
                        )
                    else:
                        body = bytes(10 + (i + 7 * k) % 90)
                    members.append((f"{i:06d}{k}.{'png' if payload == 'png' else 'bin'}", body))
                    members.append(
                        (f"{i:06d}{k}.txt", b"x" * (5 + (i + 13 * k) % 40))
                    )
                return make_tar_shard(members)

            return ids.map(mk)

        synth.__annotations__ = {"ids": pd.Series, "return": pd.Series}
        blob = pandas_udf("binary")(synth)(F.col(id_col))
        return df.select(F.col(id_col), blob.alias("shard"))

    return run


@operator("map_extract")
def map_extract_op(config: dict):
    """Project one key of a map column into its own column
    (element_at) — e.g. the 'png' part out of a WebDataset sample's
    ext->bytes map. config: {field, key, as}."""
    field = config["field"]
    key = config["key"]
    out = config.get("as", key)
    return lambda df: df.withColumn(out, F.element_at(F.col(field), key))


@operator("media_strip_metadata")
def media_strip_metadata_op(config: dict):
    """Strip camera/author metadata from image blobs (PNG ancillary
    chunks, JPEG APPn/COM incl. EXIF) — the media analogue of
    pii_scrub; pixels untouched, no re-encode
    (multimodal.strip_metadata_table). config: {id_field, media_field}."""
    from ..llm.multimodal import strip_metadata_table

    return lambda df: strip_metadata_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
    )


@operator("image_decontaminate")
def image_decontaminate_op(config: dict):
    """Benchmark decontamination for IMAGES (merger takes
    (corpus, eval_set) inputs in flows): drop corpus images whose dHash
    is within max_hamming of any eval image
    (multimodal.image_decontaminate). config: {max_hamming, id_field,
    media_field}."""
    from ..llm.multimodal import image_decontaminate

    def transform(corpus: DataFrame, eval_set: DataFrame | None = None) -> DataFrame:
        if eval_set is None:
            raise ValueError("image_decontaminate needs (corpus, eval_set) inputs")
        return image_decontaminate(
            corpus,
            eval_set,
            max_hamming=int(config.get("max_hamming", 6)),
            id_col=config.get("id_field", "doc_id"),
            media_col=config.get("media_field", "media"),
        )

    return transform


@operator("audio_decontaminate")
def audio_decontaminate_op(config: dict):
    """Benchmark decontamination for AUDIO (merger takes (corpus,
    eval_set) inputs in flows): drop corpus clips whose energy-delta
    fingerprint is within max_hamming of any eval clip
    (multimodal.audio_decontaminate). config: {max_hamming, id_field,
    media_field}."""
    from ..llm.multimodal import audio_decontaminate

    def transform(corpus: DataFrame, eval_set: DataFrame | None = None) -> DataFrame:
        if eval_set is None:
            raise ValueError("audio_decontaminate needs (corpus, eval_set) inputs")
        return audio_decontaminate(
            corpus,
            eval_set,
            max_hamming=int(config.get("max_hamming", 6)),
            id_col=config.get("id_field", "doc_id"),
            media_col=config.get("media_field", "media"),
        )

    return transform


@operator("audio_trim_silence")
def audio_trim_silence_op(config: dict):
    """Silence-trim audit over PCM WAV media (multimodal.
    audio_trim_silence_table — exact integer bounds + trimmed energy).
    config: {id_field, media_field, threshold}."""
    from ..llm.multimodal import audio_trim_silence_table

    return lambda df: audio_trim_silence_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        threshold=int(config.get("threshold", 0)),
    )


@operator("video_frames_at")
def video_frames_at_op(config: dict):
    """REAL scheduled frame extraction (multimodal.video_frames_at_table):
    decode the frame showing at every interval_ms tick of media time,
    using the container's actual sample timestamps — the executed form
    of the media_frame_timestamps schedule. config: {id_field,
    media_field, interval_ms}."""
    from ..llm.multimodal import video_frames_at_table

    return lambda df: video_frames_at_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        interval_ms=int(config.get("interval_ms", 100)),
    )


@operator("line_filter")
def line_filter_op(config: dict):
    """RefinedWeb/Dolma line-wise boilerplate filter (llm/text.
    line_filter_table): drop nav-crumb/numeric/decoration/boilerplate
    LINES and rewrite the document, with an audit of what was removed.
    config: {text_field, id_field, sep, joiner, min_chars,
    max_digit_frac, max_punct_frac, drop_regex, keep_fields}."""
    from ..llm.text import line_filter_table

    return lambda df: line_filter_table(
        df,
        text_col=config.get("text_field", "text"),
        id_col=config.get("id_field", "doc_id"),
        sep=config.get("sep", "\n"),
        joiner=config.get("joiner"),
        min_chars=int(config.get("min_chars", 1)),
        max_digit_frac=config.get("max_digit_frac"),
        max_punct_frac=config.get("max_punct_frac"),
        drop_regex=config.get("drop_regex"),
        keep_cols=tuple(config.get("keep_fields", ())),
    )


@operator("url_blocklist_filter")
def url_blocklist_filter_op(config: dict):
    """RefinedWeb URL-filtering stage: drop rows whose URL host (or any
    subdomain) is blocklisted (llm/text.url_blocklist_filter). config:
    {url_field, blocklist, match_subdomains}."""
    from ..llm.text import url_blocklist_filter

    return lambda df: url_blocklist_filter(
        df,
        url_col=config.get("url_field", "url"),
        blocklist=config.get("blocklist", []),
        match_subdomains=flag(config, "match_subdomains", True),
    )


@operator("unigram_tokenize")
def unigram_tokenize(config: dict):
    """Train a unigram-LM (SentencePiece-style) tokenizer on the input
    corpus (or load a saved model) and segment each row's text to pieces
    (llm/unigram.py — Kudo 2018; BPE's sibling family). config:
    {text_field, as, vocab_size, seed_size, max_piece_len, em_rounds,
    model_path (load instead of train), save_path}."""
    from ..llm import unigram as U

    text_col = config.get("text_field", "text")
    out = config.get("as", "pieces")
    model_path = config.get("model_path")
    save_path = config.get("save_path")

    def run(df: DataFrame) -> DataFrame:
        if model_path:
            with open(model_path) as f:
                model = U.UnigramModel.from_json(f.read())
        else:
            model = U.train_unigram(
                df,
                text_col,
                vocab_size=int(config.get("vocab_size", 400)),
                seed_size=int(config.get("seed_size", 2000)),
                max_piece_len=int(config.get("max_piece_len", 8)),
                em_rounds=int(config.get("em_rounds", 2)),
            )
        if save_path:
            with open(save_path, "w") as f:
                f.write(model.to_json())
        # segmentation settings (max_piece_len, lowercase) ride the model
        return U.unigram_encode(df, model, text_col, out)

    return run


@operator("edit_distance_dedup")
def edit_distance_dedup_op(config: dict):
    """Fuzzy near-duplicate pairs under EDIT DISTANCE for short strings
    (titles/names/ids) — q-gram count-filter candidates + levenshtein
    verify (llm/dedup.edit_distance_pairs; lossless). config:
    {text_field, id_field, max_dist, q}."""
    from ..llm import dedup as D

    return lambda df: D.edit_distance_pairs(
        df,
        text_col=config.get("text_field", "text"),
        id_col=config.get("id_field", "doc_id"),
        max_dist=int(config.get("max_dist", 1)),
        q=int(config.get("q", 2)),
    )


@operator("cdc_chunk")
def cdc_chunk_op(config: dict):
    """Content-defined chunking over a binary column (llm/cdc.py —
    LBFS/FastCDC rolling Gear hash): (id, chunk_idx, offset, length,
    chunk_md5) rows for sub-file dedup of multimodal corpora. config:
    {id_field, media_field, mask_bits, min_size, max_size}."""
    from ..llm.cdc import cdc_chunk_table

    return lambda df: cdc_chunk_table(
        df,
        id_col=config.get("id_field", "doc_id"),
        media_col=config.get("media_field", "media"),
        mask_bits=int(config.get("mask_bits", 6)),
        min_size=int(config.get("min_size", 16)),
        max_size=int(config.get("max_size", 256)),
    )


@operator("cdc_dedup_stats")
def cdc_dedup_stats_op(config: dict):
    """Chunk-level dedup accounting over cdc_chunk output: total/unique
    chunks and bytes, saved_bytes (llm/cdc.cdc_dedup_stats)."""
    from ..llm.cdc import cdc_dedup_stats

    return lambda df: cdc_dedup_stats(df)
