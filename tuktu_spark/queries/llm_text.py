"""Text-analysis queries: language ID, quality features, token counts,
fingerprints — all pure column algebra with exact DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import text as T
from ..tables import load_table
from . import query

# ---------------------------------------------------------------------------
# Stopword-vote language ID with alphabetical tiebreak.
# ---------------------------------------------------------------------------


def _lang_score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
    return (
        f"len(list_filter(list_transform(toks, x -> lower(x)),"
        f" x -> list_contains([{words}], x))) AS s_{lang}"
    )


_LANGID_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
), scores AS (
  SELECT doc_id, lang,
         {_lang_score_sql('de')},
         {_lang_score_sql('en')},
         {_lang_score_sql('es')},
         {_lang_score_sql('fr')},
         {_lang_score_sql('zh')}
  FROM toks
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
            ELSE 'zh' END AS predicted_lang
FROM scores
"""


@query("text_language_id", oracle=_LANGID_ORACLE, tags=("llm", "text"))
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.predicted_language("text").alias("predicted_lang"),
    )


# ---------------------------------------------------------------------------
# Quality features (C4-style heuristics) — integer-sum arithmetic, exact.
# ---------------------------------------------------------------------------

_EN_STOP = ", ".join(f"'{w}'" for w in T.STOPWORDS["en"])

_QUALITY_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CASE WHEN len(toks) > 0 THEN
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a,b) -> a+b) AS DOUBLE)
           / len(toks)
         ELSE 0.0 END AS mean_token_len,
       CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS alpha_ratio,
       CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS digit_ratio,
       CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE)
         / greatest(length(text), 1) AS punct_ratio,
       CAST(len(list_filter(list_transform(toks, x -> lower(x)),
                            x -> list_contains([{_EN_STOP}], x))) AS DOUBLE)
         / greatest(len(toks), 1) AS stopword_ratio
FROM base
"""


@query("text_quality_features", oracle=_QUALITY_ORACLE, tags=("llm", "text"), bench=True)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel=True (optimization r13): the feature algebra is per-row and
    # exchange-free, which previously meant the ENTIRE query ran on the
    # single-task local scan; interleaved ABAB measured 0.87 -> 0.48 s.
    # No-op at scale (scan splits >= cores).
    d = load_table(spark, sf_dir, "documents", parallel=True)
    feats = T.quality_features("text")
    return d.select("doc_id", *[col.alias(name) for name, col in feats.items()])


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex) and rolling-hash fingerprints.
# ---------------------------------------------------------------------------

_TOKENS_ORACLE = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INT)
         AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{T.TOKEN_REGEX}')) AS INT) AS bpe_tokens,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(text) + 1),
                          i -> CAST(unicode(text[i]) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % {T.FINGERPRINT_MOD}) AS fingerprint
FROM documents
"""


@query("text_token_fingerprint", oracle=_TOKENS_ORACLE, tags=("llm", "text"))
def text_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("ws_tokens"),
        T.regex_token_count("text").alias("bpe_tokens"),
        T.fingerprint("text").alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Corpus-level rollup: quality stats per (source, lang) — the shape of a
# pre-training data audit; counts and integer sums keep it exact.
# ---------------------------------------------------------------------------

_AUDIT_ORACLE = """
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS BIGINT)
         AS total_tokens,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY source, lang
"""


@query("text_corpus_audit", oracle=_AUDIT_ORACLE, tags=("llm", "text", "groupby"))
def text_corpus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(T.token_count("text").cast("bigint")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. quality heuristics, public
# literature): per-doc stats + boolean verdict, all exact (integer counts,
# IEEE-exact divisions) so the oracle checks bit-for-bit.
# ---------------------------------------------------------------------------

_GOPHER_ORACLE = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
  FROM documents
),
base AS (
  SELECT doc_id, tk, len(tk) AS n,
         list_aggregate(list_transform(tk, x -> len(x)), 'sum') AS sum_len,
         len(list_filter(tk, x -> regexp_matches(x, '^(#+|\.{3,})$'))) AS n_sym,
         len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha
  FROM t
),
top AS (
  SELECT doc_id, MAX(c) AS top_c
  FROM (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(tk) AS tok FROM t)
    GROUP BY doc_id, tok
  )
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n AS BIGINT) AS g_n_tokens,
       CAST(b.sum_len AS DOUBLE) / b.n AS g_mean_token_len,
       CAST(b.n_sym AS DOUBLE) / greatest(b.n, 1) AS g_symbol_ratio,
       CAST(b.n_alpha AS DOUBLE) / greatest(b.n, 1) AS g_alpha_token_ratio,
       CAST(tp.top_c AS DOUBLE) / greatest(b.n, 1) AS g_top_token_ratio,
       (b.n >= 50 AND b.n <= 100000
        AND CAST(b.sum_len AS DOUBLE) / b.n >= 3.0
        AND CAST(b.sum_len AS DOUBLE) / b.n <= 10.0
        AND CAST(b.n_sym AS DOUBLE) / greatest(b.n, 1) <= 0.1
        AND CAST(b.n_alpha AS DOUBLE) / greatest(b.n, 1) >= 0.8
        AND CAST(tp.top_c AS DOUBLE) / greatest(b.n, 1) <= 0.2) AS g_pass
FROM base b JOIN top tp USING (doc_id)
"""


@query("text_gopher_rules", oracle=_GOPHER_ORACLE, tags=("llm", "text"))
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.text import with_gopher_rules

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_gopher_rules(d)
    return out.select(
        "doc_id", "g_n_tokens", "g_mean_token_len", "g_symbol_ratio",
        "g_alpha_token_ratio", "g_top_token_ratio", "g_pass",
    )


# ---------------------------------------------------------------------------
# Trained language ID (Cavnar-Trenkle 1994 rank-profile classification):
# train per-lang char-n-gram profiles from the corpus, classify every doc
# by out-of-place distance. The whole train->classify pipeline is exact
# DataFrame algebra, replicated by the oracle (integer counts + ranks; the
# (count desc, gram asc) ordering is a deterministic total order in both
# engines).
# ---------------------------------------------------------------------------

_LANGID_TOPK = 300

_LANGID_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id, lang, tk[j] AS gram FROM (
    SELECT doc_id, lang, tk, unnest(generate_series(1, len(tk))) AS j
    FROM docs)
  UNION ALL
  SELECT doc_id, lang, tk[j] || ' ' || tk[j + 1] AS gram FROM (
    SELECT doc_id, lang, tk, unnest(generate_series(1, len(tk) - 1)) AS j
    FROM docs)
  UNION ALL
  SELECT doc_id, lang,
         tk[j] || ' ' || tk[j + 1] || ' ' || tk[j + 2] AS gram FROM (
    SELECT doc_id, lang, tk, unnest(generate_series(1, len(tk) - 2)) AS j
    FROM docs)
),
lang_counts AS (
  SELECT lang, gram, COUNT(*) AS c FROM grams GROUP BY lang, gram
),
lang_prof AS (
  SELECT lang, gram, rank FROM (
    SELECT lang, gram,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY c DESC, gram ASC) AS rank
    FROM lang_counts
  ) WHERE rank <= {_LANGID_TOPK}
),
doc_counts AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
),
doc_prof AS (
  SELECT doc_id, gram, drank FROM (
    SELECT doc_id, gram,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, gram ASC) AS drank
    FROM doc_counts
  ) WHERE drank <= {_LANGID_TOPK}
),
n_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM doc_prof GROUP BY doc_id
),
matched AS (
  SELECT d.doc_id, p.lang,
         SUM(ABS(d.drank - p.rank)) AS in_place,
         COUNT(*) AS n_matched
  FROM doc_prof d JOIN lang_prof p USING (gram)
  GROUP BY d.doc_id, p.lang
),
scored AS (
  SELECT n.doc_id, l.lang,
         COALESCE(m.in_place, 0)
           + (n.n_grams - COALESCE(m.n_matched, 0)) * {_LANGID_TOPK}
           AS distance
  FROM n_doc n
  CROSS JOIN (SELECT DISTINCT lang FROM documents) l
  LEFT JOIN matched m ON m.doc_id = n.doc_id AND m.lang = l.lang
)
SELECT doc_id, lang AS predicted_lang, CAST(distance AS BIGINT) AS distance
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY distance ASC, lang ASC) AS rk
  FROM scored
) WHERE rk = 1
"""


@query("text_language_id_ngram", oracle=_LANGID_ORACLE, tags=("llm", "text"))
def text_language_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.text import classify_language_ngram, language_ngram_profiles

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    profiles = language_ngram_profiles(
        d, top_k=_LANGID_TOPK, unit="word"
    )
    return classify_language_ngram(
        d, profiles, id_col="doc_id", top_k=_LANGID_TOPK, unit="word"
    ).select(
        "doc_id",
        "predicted_lang",
        F.col("distance").cast("bigint").alias("distance"),
    )


# ---------------------------------------------------------------------------
# Repetition metrics (RefinedWeb/Gopher duplicated-n-gram signal) — exact
# SQL oracle: the same token 10-gram windows and distinct counts in DuckDB.
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
),
grams AS (
  SELECT doc_id,
         CASE WHEN len(tk) < 10 THEN []
              ELSE list_transform(generate_series(1, len(tk) - 9),
                                  i -> array_to_string(tk[i:i+9], ' '))
         END AS g
  FROM toks
)
SELECT doc_id,
       CAST(len(g) AS INT) AS n_grams,
       CAST(len(g) - len(list_distinct(g)) AS INT) AS n_dup_grams,
       CASE WHEN len(g) > 0
            THEN CAST(len(g) - len(list_distinct(g)) AS DOUBLE) / len(g)
            ELSE 0.0 END AS dup_fraction
FROM grams
"""


@query("text_repetition_stats", oracle=_REPETITION_ORACLE, tags=("llm", "text"))
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.with_repetition_stats(d, "text", n=10).select(
        "doc_id", "n_grams", "n_dup_grams", "dup_fraction"
    )


# ---------------------------------------------------------------------------
# PII scrubbing — the corpus is synthetically clean, so each doc gets
# deterministic doc_id-derived PII APPENDED in BOTH engines; the oracle
# then runs the SAME regex pipeline (patterns live in the Java-regex ∩ RE2
# common subset) and the fully-scrubbed text hash-matches.
# ---------------------------------------------------------------------------

_PII_SUFFIX_SQL = (
    "' contact user' || doc_id || '@mail.example.com from 10.1.' || "
    "(doc_id % 256) || '.7 call +31 555 ' || (1000000 + doc_id)"
)

_PII_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, text || {_PII_SUFFIX_SQL} AS t FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(t, '{T.PII_PATTERNS["email"]}')) AS INT) AS n_email,
         regexp_replace(t, '{T.PII_PATTERNS["email"]}', '[EMAIL]', 'g') AS t
  FROM aug
),
s2 AS (
  SELECT doc_id, n_email,
         CAST(len(regexp_extract_all(t, '{T.PII_PATTERNS["ipv4"]}')) AS INT) AS n_ipv4,
         regexp_replace(t, '{T.PII_PATTERNS["ipv4"]}', '[IPV4]', 'g') AS t
  FROM s1
)
SELECT doc_id, n_email, n_ipv4,
       CAST(len(regexp_extract_all(t, '{T.PII_PATTERNS["phone"]}')) AS INT) AS n_phone,
       regexp_replace(t, '{T.PII_PATTERNS["phone"]}', '[PHONE]', 'g') AS scrubbed
FROM s2
"""


@query("text_pii_scrub", oracle=_PII_ORACLE, tags=("llm", "text"))
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    suffix = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10.1."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 call +31 555 "), (F.col("doc_id") + 1000000).cast("string"),
    )
    aug = d.select("doc_id", F.concat("text", suffix).alias("t"))
    out = T.with_pii_scrubbed(aug, "t")
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "scrubbed")


# ---------------------------------------------------------------------------
# BPE tokenizer — train on the corpus, encode, decode; SELF-VERIFYING:
# decode(encode(x)) must equal the normalized input for EVERY doc (an
# exact per-doc boolean), merges actually fire (compression strictly
# beats character-level), and the corpus facts are exact SQL.
# ---------------------------------------------------------------------------

_BPE_ORACLE = """
SELECT COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))
            AS BIGINT) AS n_words,
       TRUE AS roundtrip_all, TRUE AS compresses, TRUE AS merges_learned
FROM documents
"""


@query("text_bpe_roundtrip", oracle=_BPE_ORACLE, tags=("llm", "text"))
def text_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import bpe as B

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = B.train_bpe(d, "text", n_merges=60)
    enc = B.bpe_encode(d, model, "text", "bpe")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    checked = enc.select(
        F.col("bpe"),
        (B.bpe_decode(F.col("bpe")) == norm).alias("rt_ok"),
        F.size("bpe").alias("n_bpe"),
        F.size(F.filter(F.split(norm, " "), lambda w: w != "")).alias("n_words"),
        (F.length(F.regexp_replace(norm, " ", "")) + F.size(F.split(norm, " "))).alias("n_chars_eow"),
    )
    agg = checked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.min("rt_ok").alias("roundtrip_all"),
        (F.sum("n_bpe") < F.sum("n_chars_eow")).alias("compresses"),
    )
    return agg.select(
        "n_docs", "n_words", "roundtrip_all", "compresses",
        F.lit(len(model.merges) > 0).alias("merges_learned"),
    )


# ---------------------------------------------------------------------------
# Training-mixture construction (llm/mixing.py) — both deterministic and
# exactly SQL-oracle-able: hash-bucket weighted sampling reproduces the
# identical kept-set in DuckDB; sequence packing is one window cumsum.
# ---------------------------------------------------------------------------

_MIX_WEIGHTS = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.3, "zh": 0.3}

_WEIGHTED_SAMPLE_ORACLE = f"""
WITH r AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 1000000 AS bucket,
         CASE lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.5 WHEN 'fr' THEN 0.5
                   WHEN 'es' THEN 0.3 WHEN 'zh' THEN 0.3 ELSE 0.0 END AS rate
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS kept
FROM r WHERE bucket < CAST(rate * 1000000 AS BIGINT)
GROUP BY lang
"""


@query("mix_weighted_sample", oracle=_WEIGHTED_SAMPLE_ORACLE, tags=("llm", "mixing"))
def mix_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: per-language keep rates
    decided by a content hash, so the kept set is identical at any
    parallelism and in any engine — the oracle reproduces the EXACT same
    rows in DuckDB (same md5 bucketing), not just the expected counts."""
    from ..llm.mixing import weighted_sample

    d = load_table(spark, sf_dir, "documents")
    kept = weighted_sample(d, _MIX_WEIGHTS, "lang", "doc_id")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


_PACK_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_toks
  FROM documents
),
packed AS (
  SELECT doc_id, lang, n_toks,
         CAST(FLOOR((SUM(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - 1)
                    / 512.0) AS BIGINT) AS chunk_id
  FROM toks
)
SELECT lang, chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS chunk_tokens
FROM packed GROUP BY lang, chunk_id
"""


@query("mix_pack_sequences", oracle=_PACK_ORACLE, tags=("llm", "mixing"))
def mix_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: per-language streams, 512-token
    chunks, greedy sequential assignment by one window cumsum — chunk
    memberships and token totals hash-match the SQL truth exactly."""
    from ..llm.mixing import pack_sequences

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_toks"),
    )
    packed = pack_sequences(
        d, budget=512, token_count_col="n_toks",
        order_col="doc_id", stream_cols=["lang"],
    )
    return packed.groupBy("lang", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("long").alias("chunk_tokens"),
    )


_EXACT_K_ORACLE = """
WITH keyed AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           AS skey
  FROM documents
),
ranked AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS rk
  FROM keyed
)
SELECT doc_id, lang FROM ranked WHERE rk <= 40
"""


@query("mix_sample_exact_k", oracle=_EXACT_K_ORACLE, tags=("llm", "mixing"))
def mix_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic sampling (round 6): exactly 40 docs per
    language, chosen by smallest md5-derived key — a hard-size carve-out
    (eval slices, fixed-budget ablations) that is a pure function of the
    ids, reproducible at any parallelism, and exactly reproduced by the
    DuckDB oracle (same md5-prefix arithmetic). The stratified form is
    one window over hashpartitioning(lang); the unstratified form
    compiles to a partial top-k (TakeOrderedAndProject), never a global
    sort."""
    from ..llm.mixing import sample_exact_k

    d = load_table(spark, sf_dir, "documents")
    return sample_exact_k(d, 40, "doc_id", "lang").select("doc_id", "lang")


_EPOCH_SHUFFLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5('7:2:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS ekey
  FROM documents
)
SELECT doc_id, lang,
       CAST(ekey % 8 AS INT) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY ekey % 8 ORDER BY ekey, doc_id)
            AS BIGINT) AS epoch_pos
FROM keyed
"""


@query(
    "mix_epoch_shuffle", oracle=_EPOCH_SHUFFLE_ORACLE,
    tags=("llm", "mixing"),
)
def mix_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-varying shuffle order (r13): every doc gets
    (shard, epoch_pos) as pure functions of (seed=7, epoch=2, id) —
    the reproducible dataloader-order contract (same inputs ->
    bit-identical order at any parallelism; next epoch re-deals
    wholesale). The DuckDB oracle reproduces the EXACT assignment with
    the same md5-prefix arithmetic (60-bit key is non-negative, so
    pmod == %). No global sort: positions come from a window
    partitioned on the 8 shards."""
    from ..llm.mixing import epoch_shuffle

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return epoch_shuffle(d, n_shards=8, seed=7, epoch=2)


# round 6: unicode normalization stage. The corpus text is ASCII, so the
# query appends a stress suffix (decomposed e-acute, a BEL control char,
# a C1 NEL, whitespace runs) to every document — the oracle embeds the
# SAME literal (via chr() codepoints, keeping this source file ASCII)
# and must compose/strip/collapse identically.
_NORMALIZE_SUFFIX = " Cafe" + chr(0x301) + " " + chr(7) + "x" + chr(0x85) + " fin  "

_NORMALIZE_ORACLE = """
SELECT doc_id,
       trim(regexp_replace(
         nfc_normalize(
           regexp_replace(text || ' Cafe' || chr(769) || ' ' || chr(7)
                               || 'x' || chr(133) || ' fin  ',
                          '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F-\\x9F]',
                          '', 'g')
         ),
         '\\s+', ' ', 'g')) AS text
FROM documents
"""


@query("text_normalize_nfc", oracle=_NORMALIZE_ORACLE, tags=("llm", "text"))
def text_normalize_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization stage (round 6): control-strip ->
    canonical composition -> whitespace collapse (llm/text.
    normalize_text), hash-matched against DuckDB's nfc_normalize on a
    stress suffix carrying a decomposed accent, C0/C1 control chars, and
    whitespace runs — the composed form differs bytewise from the input,
    so a pass-through cannot match."""
    from ..llm.text import normalize_text

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(_NORMALIZE_SUFFIX)).alias("text")
    )
    return normalize_text(d, "text", form="NFC").select("doc_id", "text")


# ---------------------------------------------------------------------------
# CCNet perplexity stage (llm/ngram_lm.py): train a stupid-backoff trigram
# LM over the corpus, score every document. The oracle retrains the same
# counts in CTEs and replays the backoff cascade; the checked fractional
# aggregate (mean in-context probability) rides exact decimal sums —
# per-position probabilities are ratios of integer counts (correctly-
# rounded IEEE division, engine-identical). Perplexity itself (log10)
# is pytest-pinned instead: libm vs JVM log10 rounding is not specified.
# ---------------------------------------------------------------------------

_NGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, CAST(g.i AS INT) - 1 AS pos, t[CAST(g.i AS INT)] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       UNNEST(generate_series(1, len(t))) AS g(i)
),
lagged AS (
  SELECT doc_id, pos, w,
         LAG(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         LAG(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
p AS (
  SELECT doc_id, pos, w,
         concat_ws(' ', w1, w) AS g2, concat_ws(' ', w1) AS ctx2,
         concat_ws(' ', w2, w1, w) AS g3, concat_ws(' ', w2, w1) AS ctx3
  FROM lagged
),
c1 AS (SELECT w AS gram, COUNT(*) AS cnt FROM toks GROUP BY 1 HAVING COUNT(*) >= 2),
c2 AS (SELECT g2 AS gram, COUNT(*) AS cnt FROM p WHERE pos >= 1 GROUP BY 1 HAVING COUNT(*) >= 2),
c3 AS (SELECT g3 AS gram, COUNT(*) AS cnt FROM p WHERE pos >= 2 GROUP BY 1 HAVING COUNT(*) >= 2),
tot AS (SELECT COUNT(*) AS total FROM toks),
scored AS (
  SELECT p.doc_id, p.pos,
         u.cnt AS c1, b.cnt AS c2, bc.cnt AS cc2, t3.cnt AS c3, t3c.cnt AS cc3,
         CASE WHEN u.cnt IS NOT NULL
              THEN CAST(u.cnt AS DOUBLE) / CAST(tot.total AS DOUBLE)
              ELSE 1.0 / CAST(tot.total AS DOUBLE) END AS s1
  FROM p
  CROSS JOIN tot
  LEFT JOIN c1 u ON p.w = u.gram
  LEFT JOIN c2 b ON p.g2 = b.gram
  LEFT JOIN c1 bc ON p.ctx2 = bc.gram
  LEFT JOIN c3 t3 ON p.g3 = t3.gram
  LEFT JOIN c2 t3c ON p.ctx3 = t3c.gram
),
s AS (
  SELECT doc_id, pos, c1, c2, c3,
         CASE WHEN pos >= 2 THEN
                CASE WHEN c3 IS NOT NULL
                     THEN CAST(c3 AS DOUBLE) / CAST(cc3 AS DOUBLE)
                     ELSE CAST(0.4 AS DOUBLE) *
                          CASE WHEN c2 IS NOT NULL
                               THEN CAST(c2 AS DOUBLE) / CAST(cc2 AS DOUBLE)
                               ELSE CAST(0.4 AS DOUBLE) * s1 END END
              WHEN pos >= 1 THEN
                CASE WHEN c2 IS NOT NULL
                     THEN CAST(c2 AS DOUBLE) / CAST(cc2 AS DOUBLE)
                     ELSE CAST(0.4 AS DOUBLE) * s1 END
              ELSE s1 END AS s
  FROM scored
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits1,
       CAST(SUM(CASE WHEN c2 IS NOT NULL AND pos >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits2,
       CAST(SUM(CASE WHEN c3 IS NOT NULL AND pos >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS hits3,
       CAST(SUM(CAST(FLOOR(s * 1073741824) AS BIGINT)) AS BIGINT) AS prob_q30
FROM s
GROUP BY doc_id
"""


@query("text_ngram_lm_score", oracle=_NGRAM_LM_ORACLE, tags=("llm", "text"), bench=True)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.ngram_lm import score_ngram_lm, train_ngram_lm
    from ..tables import partition_by_keys

    # Optimization r13: hash-partition the corpus by doc_id BEFORE
    # tokenize/explode — the score window's and final aggregation's
    # required clustering is then already established, so the plan's one
    # corpus exchange carries whole documents instead of exploded
    # (doc, pos, w) rows (2 Exchange -> 1 on the corpus path; see
    # partition_by_keys). train(persist=True) folds the token-total scan
    # into the fused-counts job (one corpus pass for training, see
    # train_ngram_lm).
    d = partition_by_keys(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", F.split("text", " ").alias("tokens"))
    # positions= deliberately NOT used: A/B-measured neutral-to-slower
    # here, and caching an exploded corpus is the wrong trade at scale
    # (see train_ngram_lm docstring)
    lm = train_ngram_lm(d, n=3, min_count=2, persist=True)
    out = score_ngram_lm(d, lm)
    return out.select(
        "doc_id", "n_pos", "hits1", "hits2", "hits3", "prob_q30"
    )


# ---------------------------------------------------------------------------
# Pretrained-ARPA scoring (the real CCNet setting: a FIXED LM scores the
# corpus). The oracle embeds the bundled mini model (dyadic log10 probs,
# generated deterministically from md5 over the corpus vocabulary) as
# VALUES tables and replays the Katz backoff cascade; the checked
# aggregate is the exact 2^20-quantized log-prob sum (same argument as
# prob_q30: power-of-two scaling + floor + bigint sum is engine-exact).
# ---------------------------------------------------------------------------


def _arpa_path() -> str:
    import os

    from .. import llm as _llm

    return os.path.join(os.path.dirname(_llm.__file__), "data", "mini_lm.arpa")


def _arpa_values() -> tuple[str, str, str, float]:
    rows: dict[int, list[str]] = {1: [], 2: [], 3: []}
    unk = -7.0
    with open(_arpa_path(), encoding="utf-8") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) < 2:
                continue
            try:
                lp = float(parts[0])
            except ValueError:
                continue
            gram = parts[1]
            bow = float(parts[2]) if len(parts) > 2 else 0.0
            k = len(gram.split(" "))
            if gram == "<unk>":
                unk = lp
                continue
            g = gram.replace("'", "''")
            rows[k].append(f"('{g}', {lp!r}, {bow!r})")
    return ", ".join(rows[1]), ", ".join(rows[2]), ", ".join(rows[3]), unk


_A1, _A2, _A3, _UNK = _arpa_values()

_ARPA_ORACLE = f"""
WITH t1(w, p1, b1) AS (VALUES {_A1}),
t2(gram, p2, b2) AS (VALUES {_A2}),
t3(gram, p3, b3) AS (VALUES {_A3}),
toks AS (
  SELECT doc_id, CAST(g.i AS INT) - 1 AS pos, t[CAST(g.i AS INT)] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       UNNEST(generate_series(1, len(t))) AS g(i)
),
lagged AS (
  SELECT doc_id, pos, w,
         LAG(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         LAG(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
p AS (
  SELECT doc_id, pos, w,
         concat_ws(' ', w1, w) AS g2, concat_ws(' ', w1) AS ctx2,
         concat_ws(' ', w2, w1, w) AS g3, concat_ws(' ', w2, w1) AS ctx3
  FROM lagged
),
joined AS (
  SELECT p.doc_id, p.pos,
         u.p1, bu.b1 AS cb2, b.p2, bb.b2 AS cb3, t.p3
  FROM p
  LEFT JOIN t1 u ON p.w = u.w
  LEFT JOIN t1 bu ON p.ctx2 = bu.w
  LEFT JOIN t2 b ON p.g2 = b.gram
  LEFT JOIN t2 bb ON p.ctx3 = bb.gram
  LEFT JOIN t3 t ON p.g3 = t.gram
),
s AS (
  SELECT doc_id, pos,
         CASE WHEN pos >= 2 THEN
                COALESCE(p3, COALESCE(cb3, 0.0) +
                  COALESCE(p2, COALESCE(cb2, 0.0) + COALESCE(p1, {_UNK!r})))
              WHEN pos >= 1 THEN
                COALESCE(p2, COALESCE(cb2, 0.0) + COALESCE(p1, {_UNK!r}))
              ELSE COALESCE(p1, {_UNK!r}) END AS lp
  FROM joined
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pos,
       CAST(SUM(CAST(FLOOR(lp * 1048576) AS BIGINT)) AS BIGINT) AS lp_q20
FROM s
GROUP BY doc_id
"""


@query("text_arpa_lm_score", oracle=_ARPA_ORACLE, tags=("llm", "text"))
def text_arpa_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.ngram_lm import read_arpa, score_arpa

    lm = read_arpa(spark, _arpa_path()).persist()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    return score_arpa(d, lm).select("doc_id", "n_pos", "lp_q20")


# ---------------------------------------------------------------------------
# DSIR data selection (llm/dsir.py — Xie et al. 2023). The oracle retrains
# the whole method in SQL: hashed unigram+bigram features (the shared
# md5-60bit bucket hash), Laplace-smoothed bucket distributions for target
# (lang='en') vs raw (everything), per-bucket llr quantized with the SAME
# four-ln expression the engine evaluates driver-side (term order pinned so
# the doubles agree bit-for-bit on one libm), exact BIGINT per-doc weight
# sums, deterministic top-k. Everything corpus-sized is integer arithmetic
# in both engines — the transcendental step happens once per bucket.
# ---------------------------------------------------------------------------

_DSIR_B = 128
_DSIR_K = 100

_DSIR_WEIGHTS_CTE = f"""
WITH tk AS (
  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM tk
  UNION ALL
  SELECT tk.doc_id, tk.lang, tk.t[i.i] || ' ' || tk.t[i.i + 1] AS g
  FROM tk, LATERAL (SELECT unnest(range(1, len(tk.t))) AS i) i
),
feats AS (
  SELECT doc_id, lang,
         CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % {_DSIR_B} AS bucket
  FROM grams
),
ct AS (SELECT bucket, COUNT(*) AS c FROM feats WHERE lang = 'en' GROUP BY bucket),
cr AS (SELECT bucket, COUNT(*) AS c FROM feats GROUP BY bucket),
tots AS (
  SELECT (SELECT COUNT(*) FROM feats WHERE lang = 'en') + 1.0 * {_DSIR_B} AS tt,
         (SELECT COUNT(*) FROM feats) + 1.0 * {_DSIR_B} AS tr
),
llr AS (
  SELECT b.bucket,
         CAST(FLOOR(1048576.0 * (ln(COALESCE(ct.c, 0) + 1.0) - ln(tots.tt)
                                - ln(COALESCE(cr.c, 0) + 1.0) + ln(tots.tr)))
              AS BIGINT) AS llr_q
  FROM (SELECT unnest(range(0, {_DSIR_B})) AS bucket) b
  LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket), tots
),
w AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(l.llr_q) AS BIGINT) AS logw_q
  FROM feats f JOIN llr l USING (bucket)
  GROUP BY f.doc_id
)
"""

_DSIR_ORACLE = f"""{_DSIR_WEIGHTS_CTE}
SELECT doc_id, n_feats, logw_q
FROM w ORDER BY logw_q DESC, doc_id LIMIT {_DSIR_K}
"""


@query("mix_dsir_select", oracle=_DSIR_ORACLE, tags=("llm", "mixing"), bench=True)
def mix_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: select the {k} raw documents whose
    hashed-n-gram distribution best matches the English target sample
    (deterministic top-k variant; the Gumbel sampler is pytest-pinned).
    Shuffle inventory: two B-bounded bucket-count aggregations + one
    doc-keyed weight aggregation + TakeOrderedAndProject — no global
    sort, no Python in the hot path."""
    from ..llm.dsir import (
        dsir_select_topk,
        dsir_weights,
        hashed_ngram_features,
        train_dsir_llr_flagged,
    )

    d = load_table(spark, sf_dir, "documents", parallel=True).select(
        "doc_id",
        F.split("text", " ").alias("tokens"),
        (F.col("lang") == "en").alias("is_target"),
    )
    # target is a slice of raw -> single-pass fit: one aggregation yields
    # both bucket distributions, so the corpus featurizes twice total
    # (fit + weights) instead of three times (bit-identical llr, pinned)
    feats = hashed_ngram_features(d, buckets=_DSIR_B, keep_cols=("is_target",))
    llr = train_dsir_llr_flagged(feats, _DSIR_B)
    out = dsir_select_topk(dsir_weights(feats, llr), _DSIR_K)
    return out.select("doc_id", "n_feats", "logw_q")


# ---------------------------------------------------------------------------
# CCNet head/middle/tail bucketing under the pretrained ARPA model — the
# oracle replays the Katz cascade (same VALUES tables as text_arpa_lm_score),
# then the EXACT tercile rule of lm_score_buckets_exact: integer per-token
# score lpt_q = floordiv(lp_q20, n_pos), value cutoffs at the ceil(n/3)-th /
# ceil(2n/3)-th largest — pure integer arithmetic end to end, tie groups
# never split, so the assignment is engine-portable.
# ---------------------------------------------------------------------------

_PPL_BUCKETS_ORACLE = f"""
WITH t1(w, p1, b1) AS (VALUES {_A1}),
t2(gram, p2, b2) AS (VALUES {_A2}),
t3(gram, p3, b3) AS (VALUES {_A3}),
toks AS (
  SELECT doc_id, lang, CAST(g.i AS INT) - 1 AS pos, t[CAST(g.i AS INT)] AS w
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       UNNEST(generate_series(1, len(t))) AS g(i)
),
lagged AS (
  SELECT doc_id, lang, pos, w,
         LAG(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         LAG(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM toks
),
p AS (
  SELECT doc_id, lang, pos, w,
         concat_ws(' ', w1, w) AS g2, concat_ws(' ', w1) AS ctx2,
         concat_ws(' ', w2, w1, w) AS g3, concat_ws(' ', w2, w1) AS ctx3
  FROM lagged
),
joined AS (
  SELECT p.doc_id, p.lang, p.pos,
         u.p1, bu.b1 AS cb2, b.p2, bb.b2 AS cb3, t.p3
  FROM p
  LEFT JOIN t1 u ON p.w = u.w
  LEFT JOIN t1 bu ON p.ctx2 = bu.w
  LEFT JOIN t2 b ON p.g2 = b.gram
  LEFT JOIN t2 bb ON p.ctx3 = bb.gram
  LEFT JOIN t3 t ON p.g3 = t.gram
),
s AS (
  SELECT doc_id, lang, pos,
         CASE WHEN pos >= 2 THEN
                COALESCE(p3, COALESCE(cb3, 0.0) +
                  COALESCE(p2, COALESCE(cb2, 0.0) + COALESCE(p1, {_UNK!r})))
              WHEN pos >= 1 THEN
                COALESCE(p2, COALESCE(cb2, 0.0) + COALESCE(p1, {_UNK!r}))
              ELSE COALESCE(p1, {_UNK!r}) END AS lp
  FROM joined
),
d AS (
  SELECT doc_id, lang,
         CAST(SUM(CAST(FLOOR(lp * 1048576) AS BIGINT)) AS BIGINT) AS lp_q20,
         CAST(COUNT(*) AS BIGINT) AS n_pos
  FROM s GROUP BY doc_id, lang
),
m AS (
  SELECT doc_id, lang,
         CAST((lp_q20 - ((lp_q20 % n_pos) + n_pos) % n_pos) / n_pos
              AS BIGINT) AS lpt_q
  FROM d
),
g AS (SELECT lang, lpt_q, COUNT(*) AS c FROM m GROUP BY 1, 2),
cum AS (
  SELECT lang, lpt_q,
         SUM(c) OVER (PARTITION BY lang ORDER BY lpt_q DESC) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS n
  FROM g
),
cuts AS (
  SELECT lang,
         MAX(CASE WHEN cum >= CEIL(n / 3.0) THEN lpt_q END) AS v1,
         MAX(CASE WHEN cum >= CEIL(n * 2 / 3.0) THEN lpt_q END) AS v2
  FROM cum GROUP BY lang
)
SELECT m.doc_id, m.lang, m.lpt_q,
       CASE WHEN m.lpt_q >= c.v1 THEN 'head'
            WHEN m.lpt_q >= c.v2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM m JOIN cuts c USING (lang)
"""


@query("text_arpa_ppl_buckets", oracle=_PPL_BUCKETS_ORACLE, tags=("llm", "text"))
def text_arpa_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split under the bundled pretrained ARPA
    model, with exact engine-portable terciles (ngram_lm.
    lm_score_buckets_exact). Shuffle inventory: the ARPA scoring
    pipeline's one doc-keyed shuffle + the id-keyed lang join; the
    tercile machinery runs on distinct-value rows only."""
    from ..llm.ngram_lm import lm_score_buckets_exact, read_arpa, score_arpa

    lm = read_arpa(spark, _arpa_path()).persist()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("tokens")
    )
    scored = score_arpa(docs.select("doc_id", "tokens"), lm)
    scored = scored.join(docs.select("doc_id", "lang"), "doc_id")
    out = lm_score_buckets_exact(scored, lang_col="lang")
    return out.select("doc_id", "lang", "lpt_q", "bucket")


# ---------------------------------------------------------------------------
# Temperature sampling (llm/mixing.temperature_sample — XLM-R alpha=0.5
# rebalancing). Exactly reproducible in SQL because at alpha=0.5 the rate is
# sqrt(n_min/n_d) and IEEE sqrt/division are correctly rounded: both engines
# compute bit-identical rates from the same integer counts, and the keep rule
# is the shared md5 Bernoulli hash with an explicit FLOOR (Spark's long cast
# truncates; CAST in DuckDB rounds, so the oracle floors first).
# ---------------------------------------------------------------------------

_TEMP_SAMPLE_ORACLE = """
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
mn AS (SELECT MIN(n) AS n_min FROM c),
rates AS (
  SELECT c.lang, sqrt(CAST(mn.n_min AS DOUBLE) / c.n) AS rate FROM c, mn
),
r AS (
  SELECT d.doc_id, d.lang,
         CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % 1000000 AS bucket,
         rates.rate
  FROM documents d JOIN rates USING (lang)
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS kept
FROM r WHERE bucket < CAST(FLOOR(rate * 1000000) AS BIGINT)
GROUP BY lang
"""


@query("mix_temperature_sample", oracle=_TEMP_SAMPLE_ORACLE, tags=("llm", "mixing"))
def mix_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XLM-R-style alpha=0.5 temperature rebalancing of the language
    mixture: keep all of the smallest language, downsample the rest
    toward p^0.5 with the deterministic md5 Bernoulli rule — the oracle
    reproduces the exact kept rows, not just expected counts."""
    from ..llm.mixing import temperature_sample

    d = load_table(spark, sf_dir, "documents")
    kept = temperature_sample(d, alpha=0.5, domain_col="lang", id_col="doc_id")
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("kept"))


# ---------------------------------------------------------------------------
# Context-window chunking (llm/mixing.chunk_documents): overlapping
# max-64/stride-32 windows; the oracle rebuilds every chunk with list_slice
# and pins its md5, so off-by-one bounds cannot survive the hash. Chunk
# count rule: ceil(max(n - max_tokens, 0) / stride) + 1 — the final chunk is
# the remainder; empty docs emit one empty chunk (nothing silently vanishes).
# ---------------------------------------------------------------------------

_CHUNK_MAX = 64
_CHUNK_STRIDE = 32

_CHUNK_ORACLE = f"""
WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
c AS (
  SELECT doc_id, t,
         CAST(CEIL(GREATEST(len(t) - {_CHUNK_MAX}, 0) / {_CHUNK_STRIDE}.0)
              AS INT) + 1 AS k
  FROM tk
)
SELECT doc_id, CAST(i.i AS INT) AS chunk_idx,
       CAST(len(list_slice(t, i.i * {_CHUNK_STRIDE} + 1,
                           i.i * {_CHUNK_STRIDE} + {_CHUNK_MAX})) AS INT)
         AS n_chunk_tokens,
       md5(array_to_string(list_slice(t, i.i * {_CHUNK_STRIDE} + 1,
                                      i.i * {_CHUNK_STRIDE} + {_CHUNK_MAX}),
                           ' ')) AS chunk_md5
FROM c, LATERAL (SELECT unnest(range(0, k)) AS i) i
"""


@query("text_chunk_documents", oracle=_CHUNK_ORACLE, tags=("llm", "mixing"))
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping context windows (max 64
    tokens, stride 32) — the complement of pack_sequences for the
    long-document side. Pure per-row array algebra: no window function,
    no shuffle, stream-legal."""
    from ..llm.mixing import chunk_documents

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    out = chunk_documents(d, max_tokens=_CHUNK_MAX, stride=_CHUNK_STRIDE)
    return out.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# HTML -> text extraction (llm/text.html_extract_text — the CCNet/WET ingest
# step). Roundtrip-style oracle: both engines wrap each document in the SAME
# synthetic HTML (script/style blocks, entities, block breaks, a dangling
# unclosed tag) and replay the SAME RE2-compatible regex chain; the extracted
# text's md5 is pinned, so any divergence in drop/strip/decode/collapse
# behavior fails the hash.
# ---------------------------------------------------------------------------

_HTML_PRE = (
    '<html><head><title>t</title><style type="text/css">body {color: red}'
    '</style><script>var x = 1 < 2 && y;</script></head><body><h1>'
)
_HTML_MID = (
    '</h1><p>A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p><p>'
)
_HTML_POST = "</p><br><div>tail <b>bold</div></body></html>"

_HTML_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         '{_HTML_PRE}' || lang || '{_HTML_MID}' || text || '{_HTML_POST}' AS html
  FROM documents
),
x AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(
            regexp_replace(
             regexp_replace(
              regexp_replace(
               regexp_replace(
                regexp_replace(
                 regexp_replace(
                  regexp_replace(
                   regexp_replace(
                    regexp_replace(html,
                      '(?is)<script[^>]*>.*?</script>|<style[^>]*>.*?</style>',
                      ' ', 'g'),
                    '(?i)<(?:br|/p|/div|/li|/tr|/h[1-6])[^>]*>', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                  '&nbsp;', ' ', 'g'),
                 '&lt;', '<', 'g'),
                '&gt;', '>', 'g'),
               '&quot;', '"', 'g'),
              '&#39;', CHR(39), 'g'),
             '&apos;', CHR(39), 'g'),
            '&amp;', '&', 'g'),
           '\\s+', ' ', 'g')) AS extracted
  FROM h
)
SELECT doc_id, md5(extracted) AS text_md5,
       CAST(length(extracted) AS BIGINT) AS n_chars
FROM x
"""


@query("text_html_extract", oracle=_HTML_ORACLE, tags=("llm", "text"))
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap every document in synthetic HTML and extract the text back —
    script/style dropped, block tags become separators, entities decoded
    one pass, whitespace collapsed. Zero shuffles, zero Python: one
    codegen regex chain over the scan."""
    from ..llm.text import html_extract_text

    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(_HTML_PRE), F.col("lang"), F.lit(_HTML_MID),
        F.col("text"), F.lit(_HTML_POST),
    )
    out = html_extract_text(html)
    return d.select(
        "doc_id",
        F.md5(out).alias("text_md5"),
        F.length(out).cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Token-budget carve-out (llm/mixing.budget_sample): greedy inclusive fill
# per language in md5(id) order — exact integer cumsum, identical window
# semantics in DuckDB, so the oracle pins the exact kept rows.
# ---------------------------------------------------------------------------

_BUDGET_ORACLE = """
WITH d AS (
  SELECT doc_id, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS k
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY k, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id, lang, n_tokens FROM c WHERE cum <= 2000
"""


@query("mix_budget_sample", oracle=_BUDGET_ORACLE, tags=("llm", "mixing"))
def mix_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Carve a 2000-token-per-language training slice: greedy
    deterministic hash-order fill — the token-budget analogue of
    sample_exact_k. One domain-keyed shuffle; exact integer arithmetic
    end to end."""
    from ..llm.mixing import budget_sample

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return budget_sample(d, budget_tokens=2000)


# ---------------------------------------------------------------------------
# Line-wise boilerplate filtering (the RefinedWeb/Dolma per-line stage).
# The corpus is single-line, so lines are synthesized deterministically in
# BOTH engines: every ' row ' token becomes a newline (plain non-regex
# replace — identical left-to-right non-overlapping semantics in Spark and
# DuckDB). The oracle replays the exact keep-predicate per line and the
# ordered reconstruction.
# ---------------------------------------------------------------------------

_LINE_FILTER_ORACLE = """
WITH d AS (
  SELECT doc_id, string_split(replace(text, ' row ', chr(10)), chr(10)) AS ls
  FROM documents
),
l AS (
  SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS i FROM d
),
k AS (
  SELECT doc_id, i, line,
         (length(line) >= 25 AND NOT regexp_matches(line, '^key')) AS keep
  FROM l
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY i),
                '') AS text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE length(line) END) AS BIGINT)
         AS chars_removed
FROM k GROUP BY doc_id
"""


@query("text_line_filter", oracle=_LINE_FILTER_ORACLE, tags=("llm", "text"))
def text_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LINE boilerplate removal (RefinedWeb/Dolma stage): drop short
    and pattern-matched lines, rebuild each document, audit the removal.
    Zero-shuffle per-row array algebra; the oracle replays the predicate
    and the ordered reconstruction line by line."""
    from ..llm.text import line_filter_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        # literal (non-regex) replace — same left-to-right non-overlapping
        # semantics as the oracle's replace()
        F.replace(F.col("text"), F.lit(" row "), F.lit("\n")).alias("text"),
    )
    out = line_filter_table(
        docs, min_chars=25, drop_regex="^key"
    )
    return out.select(
        "doc_id", "text",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        "chars_removed",
    )


# ---------------------------------------------------------------------------
# URL/domain curation (the RefinedWeb URL-filtering stage). The corpus has
# no URL column, so one is synthesized deterministically from each doc's
# first two tokens (both engines replay the construction); the Spark side
# then runs the REAL host-extraction regex, registrable-suffix grouping
# and subdomain-aware blocklist drop, and the oracle replays each in
# closed form.
# ---------------------------------------------------------------------------

_URL_STATS_ORACLE = """
WITH u AS (
  SELECT doc_id,
         string_split(text, ' ')[1] AS w1,
         string_split(text, ' ')[2] AS w2
  FROM documents
),
h AS (
  SELECT doc_id,
         w1 || '.sub.' || w2 || '-site.com' AS host,
         w2 || '-site.com' AS domain
  FROM u
)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM h
WHERE NOT (host = 'slow-site.com' OR host LIKE '%.slow-site.com')
GROUP BY domain
"""


@query("text_url_domain_stats", oracle=_URL_STATS_ORACLE, tags=("llm", "text"))
def text_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host extraction (scheme/userinfo/port-aware regex) ->
    subdomain-aware blocklist drop -> per-registrable-domain doc counts:
    the URL-filtering front of a web-corpus pipeline, every step
    hash-matched against the oracle's closed-form replay."""
    from ..llm.text import registrable_suffix, url_blocklist_filter, url_host

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://user@"),
            F.element_at(toks, 1), F.lit(".sub."),
            F.element_at(toks, 2), F.lit("-site.com:8443/path?q=1"),
        ).alias("url"),
    )
    kept = url_blocklist_filter(urls, "url", ["slow-site.com"])
    return (
        kept.select(registrable_suffix(url_host(F.col("url"))).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018 — the SentencePiece family, BPE's
# sibling): trained on the corpus, every document segmented by Viterbi
# under the learned piece probabilities. The oracle pins the
# SQL-computable invariants exactly (doc/word counts) and the in-query
# booleans assert the tokenizer contract: pieces concatenate back to the
# de-spaced text for EVERY document (lossless segmentation), the
# segmentation COMPRESSES (fewer pieces than characters — multi-char
# pieces were actually learned and used), and the vocabulary respected
# the size cap.
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = """
SELECT COUNT(*) AS n_docs,
       CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')))
            AS BIGINT) AS n_words,
       TRUE AS roundtrip_all, TRUE AS compresses, TRUE AS vocab_capped
FROM documents
"""


@query("text_unigram_tokenize", oracle=_UNIGRAM_ORACLE, tags=("llm", "text"))
def text_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import unigram as U

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = U.train_unigram(d, "text", vocab_size=300, seed_size=1500, em_rounds=2)
    enc = U.unigram_encode(d, model, "text", "pieces")
    # the encoder lowercases (model.lowercase) and splits on the ASCII
    # whitespace class — Java \s is exactly that class, so lower+de-\s
    # reproduces the reference string for the roundtrip invariant
    dewhite = F.lower(F.regexp_replace(F.col("text"), r"\s+", ""))
    checked = enc.select(
        (F.array_join("pieces", "") == dewhite).alias("rt_ok"),
        F.size("pieces").alias("n_pieces"),
        F.length(dewhite).alias("n_chars"),
        F.size(
            F.filter(F.split("text", r"\s+"), lambda w: w != "")
        ).alias("n_words"),
    )
    n_multi = sum(1 for p in model.logp if len(p) > 1)
    agg = checked.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.min("rt_ok").alias("roundtrip_all"),
        (F.sum("n_pieces") < F.sum("n_chars")).alias("compresses"),
    )
    return agg.select(
        "n_docs", "n_words", "roundtrip_all", "compresses",
        F.lit(0 < n_multi <= 300).alias("vocab_capped"),
    )
