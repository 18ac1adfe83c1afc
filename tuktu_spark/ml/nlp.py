"""NLP operators (SURVEY.md §2.12; modules/nlp/app/tuktu/nlp/processors/**).

Tokenization, n-grams, stopword removal, case folding and exact TF-IDF as
pure column algebra / DataFrame aggregation (JVM-side, codegen'd);
Word2Vec via pyspark.ml. The exact-TF-IDF path doubles as an
oracle-checkable quality signal for LLM data pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Minimal English stopword list — enough to exercise the operator; swap in
# a full list (e.g. pyspark.ml.feature.StopWordsRemover.loadDefaultStopWords)
# for production corpora.
DEFAULT_STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on that the "
    "to was were will with this which or not but they you i we".split()
)


def tokenize(col, lowercase: bool = True):
    """Whitespace tokenizer -> array<string> (reference TokenizerProcessor)."""
    c = F.lower(col) if lowercase else col
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def remove_stopwords(tokens, stopwords: list[str] | None = None):
    """Drop stopwords, preserving order and duplicates (unlike
    array_except, which would dedup)."""
    sw = F.array(*[F.lit(w) for w in (stopwords or DEFAULT_STOPWORDS)])
    return F.filter(tokens, lambda t: ~F.array_contains(sw, t))


def ngrams(tokens, n: int = 2, sep: str = " "):
    """Word n-grams of a token array (reference NGramProcessor). Arrays
    shorter than ``n`` yield an EMPTY array — F.sequence(1, 0) would
    otherwise produce a descending [1, 0] and slice(start=0) errors."""
    count = F.size(tokens) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.array_join(F.slice(tokens, i, n), sep),
        ),
    ).otherwise(F.array().cast("array<string>"))


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    stopwords: list[str] | None = None,
) -> DataFrame:
    """(doc, term, tf) — one explode + one groupBy(doc, term)."""
    toks = remove_stopwords(tokenize(F.col(text_col)), stopwords)
    return (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    use_log: bool = True,
    broadcast_df: bool = True,
) -> DataFrame:
    """Exact corpus TF-IDF: tf(d,t) * idf(t).

    ``use_log=True``: idf = ln(N / df_t) (textbook). ``use_log=False``:
    the log-free rarity ratio tf * N / df_t — bit-identical across engines
    (single IEEE multiply+divide; ln() last-ulp behavior is libm-specific),
    which is what the oracle-checked query uses.

    Shuffle topology (round-4 verdict #7 — fused): ONE data-scale
    exchange. Exploded tokens are repartitioned by term; the
    groupBy(term, doc) reuses that partitioning (HashPartitioning(term)
    satisfies the (term, doc) clustering), and df_t is a count() window
    over the same term partitioning — so tf, df_t, and the former
    tf-join-dfreq all ride one exchange instead of the old
    groupBy + countDistinct-expand + join chain (10 exchanges -> ~4,
    and the tf lineage is no longer recomputed twice). ``broadcast_df``
    is kept for API stability but the fused plan no longer needs the
    join either way.
    """
    from pyspark.sql import Window

    toks = remove_stopwords(tokenize(F.col(text_col)), stopwords)
    exploded = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = (
        exploded.repartition("term")
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # (term, doc) rows are unique, so df_t = row count per term — a window
    # over the partitioning we already have, not another shuffle+join
    df_t = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    out = tf.withColumn("df_t", df_t).crossJoin(F.broadcast(n_docs))
    ratio = F.col("tf").cast("double") * F.col("n_docs").cast("double") / F.col("df_t").cast("double")
    score = F.log(F.col("n_docs").cast("double") / F.col("df_t").cast("double")) * F.col("tf").cast("double") if use_log else ratio
    return out.select(F.col(id_col), "term", "tf", "df_t", score.alias("tfidf"))


def bm25(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    k1: float = 1.2,
    b: float = 0.75,
    use_log: bool = True,
) -> DataFrame:
    """Exact corpus BM25 (Robertson/Sparck Jones, public): per (doc,
    term) score idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).

    ``use_log=True``: idf = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
    (the standard smoothed form). ``use_log=False``: the log-free
    rarity ratio (N - df_t + 0.5)/(df_t + 0.5) as idf — same
    per-term monotonicity, and bit-identical across engines (pure
    IEEE rational arithmetic; ln() last-ulp behavior is
    libm-specific), which is what the oracle-checked query uses —
    the same portability convention as tf_idf(use_log=False).

    Shuffle topology mirrors the fused tf_idf: tokens repartition by
    term once; groupBy(term, doc) and the df_t window ride that
    partitioning; doc lengths join back broadcast (N rows of (doc,
    dl) aggregate to corpus scale only in doc COUNT, and the join is
    on the doc key the tf table already carries — a broadcast at
    dimension scale, a doc-keyed shuffle at corpus scale).

    The (doc, dl) aggregate has two consumers — the dl join side and
    the corpus-stats scalar — so the plan reads the input three times.
    Pinning it (3 -> 2 corpus scans) measured slower on the local bench
    (the cache-build job costs more than a third scan of a small hot
    file: interleaved A/B, 8 cells x 7 runs, median 1.295 -> 1.399 s)
    and its cluster-scale benefit is unmeasured, so it is not pinned."""
    from pyspark.sql import Window

    toks = remove_stopwords(tokenize(F.col(text_col)), stopwords)
    exploded = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = (
        exploded.repartition("term")
        .groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = tf.withColumn("df_t", df_t)
    # doc length (post-stopword token count) + corpus stats
    dl = (
        df.select(F.col(id_col), F.size(toks).alias("dl"))
        .groupBy(id_col)
        .agg(F.max("dl").alias("dl"))
    )
    stats = dl.agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.sum("dl").alias("dl_sum"),
    )
    out = (
        scored.join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("dl_sum").cast("double") / F.col("n_docs").cast("double"))
    )
    rarity = (
        (F.col("n_docs").cast("double") - F.col("df_t").cast("double") + F.lit(0.5))
        / (F.col("df_t").cast("double") + F.lit(0.5))
    )
    idf = F.log(F.lit(1.0) + rarity) if use_log else rarity
    tfd = F.col("tf").cast("double")
    norm = tfd * F.lit(k1 + 1.0) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl"))
    )
    return out.select(
        F.col(id_col), "term", "tf", "df_t", "dl",
        (idf * norm).alias("bm25"),
    )


def bm25_search(
    df: DataFrame,
    query: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: list[str] | None = None,
    use_log: bool = True,
) -> DataFrame:
    """Top-k document retrieval: score(d) = sum of BM25(d, t) over the
    query's distinct terms. The per-term table filters to the handful
    of query terms BEFORE any join (predicate pushdown into the fused
    term-exchange), so corpus cost is the tf scan plus a k-row
    TakeOrderedAndProject — no global sort materializes."""
    terms = sorted({t for t in query.lower().split() if t})
    scored = bm25(df, text_col, id_col, stopwords, use_log=use_log)
    return (
        scored.filter(F.col("term").isin(terms))
        .groupBy(id_col)
        .agg(F.sum("bm25").alias("score"), F.count(F.lit(1)).alias("n_terms"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(k))
    )


def word2vec(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "w2v",
    vector_size: int = 32,
    min_count: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Word2Vec doc embeddings via pyspark.ml (reference word2vec/fasttext
    nearest-words processors map here + similarity module)."""
    from pyspark.ml.feature import Word2Vec

    toks = df.withColumn("__tokens", tokenize(F.col(text_col)))
    model = Word2Vec(
        inputCol="__tokens", outputCol=out_col, vectorSize=vector_size,
        minCount=min_count, seed=seed,
    ).fit(toks)
    return model.transform(toks).drop("__tokens")


def sentence_split(col):
    """Sentence/line splitter (reference sentence/line split processors):
    split on sentence-ending punctuation + whitespace, drop empties."""
    return F.filter(
        F.split(col, r"(?<=[.!?])\s+|\n+"), lambda s: F.trim(s) != ""
    )


def case_fold(col, mode: str = "lower"):
    """Case folding processor: lower / upper / capitalize."""
    if mode == "lower":
        return F.lower(col)
    if mode == "upper":
        return F.upper(col)
    if mode == "capitalize":
        return F.initcap(col)
    raise ValueError(f"unknown case mode {mode!r}")


# Real Porter2 (Snowball english) stemming lives in ml/porter2.py — a
# from-spec implementation exposed as Arrow-batched pandas UDFs. Re-exported
# here so callers find both stemmers in one place. The regexp `stem` below
# is the LIGHT column-algebra variant: zero Python in the plan, useful when
# an approximate stem is enough to key an aggregation.
from .porter2 import (  # noqa: E402,F401
    porter2_stem,
    stem_token_array as stem_porter2_tokens,
    stem_words as stem_porter2,
)
_SUFFIXES = ("ational", "iveness", "fulness", "ousness", "ization",
             "tional", "encies", "ancies", "ements", "nesses",
             "ments", "ities", "ingly", "ation", "sses", "ness",
             "ment", "edly", "ings", "ally", "ies", "ing", "ed", "es", "s")


def stem(col):
    """Suffix-stripping stemmer: drop the longest matching suffix when the
    remaining stem keeps >= 3 chars (regexp alternation tries suffixes in
    declaration order, longest first). Pure regexp_replace — JVM-side.
    For faithful Snowball semantics (reference
    modules/nlp/app/tuktu/nlp/processors/Snowball.scala) use
    ``stem_porter2`` / ``stem_porter2_tokens`` from ml/porter2.py."""
    pattern = "(" + "|".join(_SUFFIXES) + ")$"
    candidate = F.regexp_replace(col, pattern, "")
    return F.when(F.length(candidate) >= 3, candidate).otherwise(col)


def summarize(
    df: DataFrame,
    text_col: str,
    score_map_col: str,
    num_lines: int = 3,
    optimal_length: int = 11,
    base: float = 2.0,
    preserve_order: bool = True,
    as_text: bool = True,
    out_col: str = "summary",
    min_token_chars: int = 3,
) -> DataFrame:
    """Extractive summarization by term-score sentence ranking
    (nlp/processors/Summarize.scala:14-77): split text on [.?!], score each
    sentence by the mean score of its tokens (from the ``score_map_col``
    map<string,double>, e.g. TF or TF-IDF scores) damped by
    base^(-|len - optimal_length|), keep the top ``num_lines``.

    Pure column algebra — sentences explode, the fold over tokens is one
    ``aggregate``, ranking is one window. Choosing base=2.0 (default here;
    reference default 1.1) keeps pow() values exact powers of two so
    scores are bit-identical across engines for integer score maps.
    Tokens shorter than ``min_token_chars`` are ignored (reference filters
    token.size > 2)."""
    sentences = F.filter(
        F.transform(F.split(F.col(text_col), r"[.?!]"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    # __rid: group/partition key — grouping by a surrogate id beats shuffling
    # the full text column at scale
    base_df = df.withColumn("__rid", F.monotonically_increasing_id()).select(
        "*", F.posexplode_outer(sentences).alias("__pos", "__sentence")
    )
    toks = F.filter(
        F.split(F.col("__sentence"), r"\s+"),
        lambda t: F.length(t) >= min_token_chars,
    )
    tok_sum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.coalesce(F.element_at(F.col(score_map_col), t), F.lit(0.0)),
    )
    n_toks = F.size(toks)
    mean_score = F.when(n_toks > 0, tok_sum / n_toks).otherwise(F.lit(0.0))
    damp = F.pow(F.lit(float(base)), -F.abs(n_toks - F.lit(int(optimal_length))))
    scored = base_df.withColumn("__score", mean_score * damp)
    w = Window.partitionBy("__rid").orderBy(
        F.col("__score").desc(), F.col("__pos").asc()
    )
    top = scored.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= num_lines
    )
    order_key = F.col("__pos") if preserve_order else F.col("__rk")
    group_cols = ["__rid", *df.columns]
    picked = top.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(order_key.alias("k"), F.col("__sentence").alias("s")))
            ),
            lambda x: x["s"],
        ).alias("__lines")
    )
    out = (
        F.array_join(F.col("__lines"), ". ") if as_text else F.col("__lines")
    )
    return picked.select(*df.columns, out.alias(out_col))


# ---------------------------------------------------------------------------
# Token cleanup family (nlp/processors/cleanup/Cleanup.scala:47-140):
# each takes and returns an array<string> column — pure per-row algebra.
# ---------------------------------------------------------------------------

def remove_punctuation(tokens):
    """PunctuationRemoverProcessor: drop tokens that ARE punctuation
    (the reference filters tokens fully matching \\p{P})."""
    return F.filter(tokens, lambda t: ~t.rlike(r"^\p{P}+$"))


def remove_short_tokens(tokens, n: int):
    """NCharsRemoverProcessor: keep tokens with length > n (strict)."""
    return F.filter(tokens, lambda t: F.length(t) > n)


_EMOJI_RANGES = (
    "\U0001F300-\U0001FAFF"  # symbols, pictographs, emoticons, transport
    "\U00002600-\U000027BF"  # misc symbols + dingbats
    "\U0001F1E6-\U0001F1FF"  # regional indicators
    "\U0000FE0F"             # variation selector
)


def remove_emoji(tokens):
    """EmojiRemoverProcessor: strip emoji codepoints from each token
    (EmojiParser.removeAllEmojis analogue over the standard blocks)."""
    return F.transform(
        tokens, lambda t: F.regexp_replace(t, f"[{_EMOJI_RANGES}]", "")
    )


_ACCENT_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
_ACCENT_DST = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"


def ascii_fold(tokens):
    """OddCharacterRemoverProcessor (flattenToAscii): fold common accents
    then drop everything outside [a-zA-Z ]. The reference goes through
    NFD normalization (JVM Normalizer); Spark has no normalization
    builtin, so the fold covers the Latin-1 accent table — identical on
    it, and both drop anything else."""
    return F.transform(
        tokens,
        lambda t: F.regexp_replace(
            F.translate(t, _ACCENT_SRC, _ACCENT_DST), "[^a-zA-Z ]", ""
        ),
    )


# ---------------------------------------------------------------------------
# PMI (nlp/processors/PMIProcessor.scala + models/PMI.scala:6-56): seed-word
# co-occurrence scores per class. For a seed w within a class:
#   pmi(v | w) = log( (docs containing both v,w / docs containing w)
#                     / docs containing v )
# (the reference's variant divides by the raw doc count, PMI.scala:31).
# ---------------------------------------------------------------------------


def pmi_cooccurrence(
    df: DataFrame,
    tokens_col: str,
    seeds: list[str],
    label_col: str | None = None,
    log: bool = True,
) -> DataFrame:
    """(label?, seed, word, pmi) for every word co-occurring with a seed.

    Distribution: everything is explode + groupBy on (label, word) keys —
    word-vocabulary-sized shuffles; the seed-doc join is a broadcast-friendly
    semi join keyed on doc id. ``log=False`` returns the raw ratio
    (IEEE-exact across engines — what the driver oracle checks; ranking is
    unchanged since log is monotone)."""
    labels = [label_col] if label_col else []
    docs = df.select(
        *labels,
        F.array_distinct(F.col(tokens_col)).alias("__toks"),
        F.monotonically_increasing_id().alias("__did"),
    )
    words = docs.select(*labels, "__did", F.explode("__toks").alias("word"))
    word_counts = words.groupBy(*labels, "word").agg(
        F.count(F.lit(1)).alias("cnt_v")
    )
    seed_arr = F.array(*[F.lit(s) for s in seeds])
    seed_docs = words.filter(F.array_contains(seed_arr, F.col("word"))).select(
        *labels, "__did", F.col("word").alias("seed")
    )
    n_w = seed_docs.groupBy(*labels, "seed").agg(F.count(F.lit(1)).alias("n_w"))
    cooc = (
        seed_docs.join(words, [*labels, "__did"])
        .groupBy(*labels, "seed", "word")
        .agg(F.count(F.lit(1)).alias("cnt_vw"))
    )
    ratio = (F.col("cnt_vw").cast("double") / F.col("n_w")) / F.col("cnt_v")
    score = F.log(ratio) if log else ratio
    return (
        cooc.join(n_w, [*labels, "seed"])
        .join(word_counts, [*labels, "word"])
        .select(*labels, "seed", "word", score.alias("pmi"))
    )


def pmi_discriminating(
    df: DataFrame,
    tokens_col: str,
    seeds: list[str],
    label_col: str,
    retain: int = 10,
) -> DataFrame:
    """Cross-class PMI (PMI.scala:37-55): a word's score for a class is its
    PMI minus the SUM of its PMIs in the other classes (words unseen
    elsewhere keep their raw PMI); top ``retain`` per (class, seed)."""
    pmi = pmi_cooccurrence(df, tokens_col, seeds, label_col, log=True)
    totals = pmi.groupBy("seed", "word").agg(
        F.sum("pmi").alias("__total"), F.count(F.lit(1)).alias("__n")
    )
    adjusted = pmi.join(totals, ["seed", "word"]).select(
        label_col,
        "seed",
        "word",
        F.when(F.col("__n") > 1, F.col("pmi") - (F.col("__total") - F.col("pmi")))
        .otherwise(F.col("pmi"))
        .alias("score"),
    )
    w = Window.partitionBy(label_col, "seed").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        adjusted.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= retain)
        .drop("__rk")
    )
