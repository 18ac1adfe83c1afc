"""Rule-based NLP: heuristic POS tagging + RBEM-style polarity scoring.

Reference: nlp/processors/POSTagging.scala:17-64 (OpenNLP tagger per
language), Sentiment.scala:20-133 (RBEMPolarity/RBEMEmotion over a binary
model jar) and the open URBEM implementation (nlp/models/URBEM.scala:43-128)
whose emission/negation algebra is fully public:

- each matched seed word at position s emits decay^(-|i - s|) to every
  position i of the sentence for its label;
- a right-flip at position f negates all emissions at i >= f; a left-flip
  negates i <= f (URBEM.scala:104-118 reads rightFlips in the left loop —
  an evident copy-paste slip; the intended left/right semantics are
  implemented here);
- a label's score is the sum of its emissions.

The reference matches seeds by fastText cosine >= cutoff (jar + model
binary, neither in this container). The DETERMINISTIC FALLBACK here is
exact lowercase token match against the seed lexicons — the documented
seam for a vector matcher is the `match_expr` hook. decay defaults to 2.0
(reference: e): dyadic decay makes scores exact binary fractions, so the
driver oracle can check them bit-for-bit across engines.

The tagger and the polarity scorer are Arrow pandas UDFs (per-batch
Python/numpy kernels, no shuffle); ``rbem_emissions`` and the oracle
generators are per-row Column/SQL algebra. Every path is per-row,
embarrassingly parallel at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Closed-class lexicon for the heuristic tagger (Penn-style tags).
POS_LEXICON: dict[str, str] = {
    **{w: "DT" for w in ("the", "a", "an", "this", "that", "these", "those")},
    **{w: "PRP" for w in ("i", "you", "he", "she", "it", "we", "they", "me", "him", "her", "us", "them", "my", "your", "his", "its", "our", "their")},
    **{w: "IN" for w in (
        "in", "on", "at", "of", "for", "with", "by", "from", "to", "into",
        "over", "under", "than", "as", "like",
        # prepositions are a closed class — enumerate them (round 6; the
        # suffix fallback mis-shapes e.g. during->VBG, against->NN)
        "during", "against", "between", "without", "within", "among",
        "upon", "toward", "towards", "beside", "behind", "above", "below",
        "across", "through", "despite", "until", "since", "about",
        "around", "along", "beyond", "beneath", "except", "via",
    )},
    **{w: "CC" for w in ("and", "or", "but", "nor", "so", "yet")},
    **{w: "VB" for w in ("is", "am", "are", "was", "were", "be", "been", "being", "do", "does", "did", "has", "have", "had")},
    **{w: "MD" for w in ("can", "could", "will", "would", "shall", "should", "may", "might", "must")},
    **{w: "RB" for w in ("not", "very", "never", "always", "often", "here", "there")},
    **{w: "WP" for w in ("who", "what", "which", "whom", "whose")},
}


# Suffix rules; effective PRECEDENCE is longest-suffix-first (most
# specific wins — round 6: the old first-match-in-list order made "s"
# shadow every longer s-ending suffix, so -ous/-less/-us could never
# fire). Within a length, list order breaks ties. A suffix only applies
# when the token is at least 3 chars longer than it. These are the hand
# defaults; the effective rules are trained below (sample majority
# replaces a tag only on strong hapax evidence). -er defaults to NN:
# across OOV text agentive/instrumental nouns (worker, boiler) dominate
# comparatives, which -ier and the lexicon largely intercept.
_DEFAULT_SUFFIX_RULES: list[tuple[str, str]] = [
    ("ness", "NN"), ("tion", "NN"), ("ment", "NN"), ("less", "JJ"),
    ("able", "JJ"), ("ful", "JJ"), ("ous", "JJ"), ("ive", "JJ"),
    ("ish", "JJ"), ("ity", "NN"), ("ize", "VB"), ("ier", "JJR"),
    ("est", "JJS"), ("ing", "VBG"), ("ed", "VBD"), ("ly", "RB"),
    ("us", "NN"), ("er", "NN"), ("s", "NNS"),
]

# Open-class lexicon + suffix rules TRAINED from the bundled hand-tagged
# sample (ml/pos_train.py; reference loads OpenNLP binaries instead —
# POSTagging.scala:17-64). Closed-class entries win on conflict: they are
# exact by construction, the trained table is corpus-frequency-based.
# Training is LAZY (first use, cached): module import does no file I/O, so
# a missing/malformed sample file surfaces at tagging time with a clear
# error instead of breaking every import of the ml package.
_TRAINED_CACHE: tuple[dict[str, str], list[tuple[str, str]], dict[str, str]] | None = None


def _trained() -> tuple[dict[str, str], list[tuple[str, str]], dict[str, str]]:
    """(TRAINED_LEXICON, POS_SUFFIX_RULES, FULL_LEXICON), built on first
    use from the bundled sample and cached for the process lifetime."""
    global _TRAINED_CACHE
    if _TRAINED_CACHE is None:
        from .pos_train import load_tagged_sample, train_lexicon, train_suffix_rules

        sample = load_tagged_sample()
        lex = train_lexicon(sample)
        rules = train_suffix_rules(sample, _DEFAULT_SUFFIX_RULES)
        _TRAINED_CACHE = (lex, rules, {**lex, **POS_LEXICON})
    return _TRAINED_CACHE


def __getattr__(name: str):
    # PEP 562 lazy module attributes: keep `from ...rbem import FULL_LEXICON`
    # working without paying training cost at import.
    if name == "TRAINED_LEXICON":
        return _trained()[0]
    if name == "POS_SUFFIX_RULES":
        return _trained()[1]
    if name == "FULL_LEXICON":
        return _trained()[2]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

_NNP_RE = "^[A-Z].*"
_CD_RE = "^[0-9]+([.,][0-9]+)?$"


def pos_tag_case_sql(tok: str = "tok") -> str:
    """The tagger's decision chain as a DuckDB CASE expression — generated
    from the SAME rule tables as ``pos_tag_python``, so the oracle cannot
    drift from the implementation."""
    by_tag: dict[str, list[str]] = {}
    for w, t in _trained()[2].items():
        by_tag.setdefault(t, []).append(w)
    lines = ["CASE"]
    for tag, words in by_tag.items():
        in_list = ", ".join(f"'{w}'" for w in sorted(words))
        lines.append(f"  WHEN lower({tok}) IN ({in_list}) THEN '{tag}'")
    lines.append(
        f"  WHEN regexp_matches({tok}, '{_NNP_RE}') AND lower({tok}) <> {tok} THEN 'NNP'"
    )
    lines.append(f"  WHEN regexp_matches({tok}, '{_CD_RE}') THEN 'CD'")
    for suffix, tag in _trained()[1]:
        lines.append(
            f"  WHEN ends_with(lower({tok}), '{suffix}') "
            f"AND len({tok}) > {len(suffix) + 2} THEN '{tag}'"
        )
    lines.append("  ELSE 'NN' END")
    return "\n".join(lines)


def pos_tag_python(tok: str) -> str:
    """Tag one token: lexicon, then shape, then suffix rules, default NN
    — the SAME tables and precedence (lexicon > NNP shape > CD > suffix >
    NN) as ``pos_tag_case_sql``. The per-token kernel of ``pos_tags``."""
    import re

    lexicon, suffix_rules, full = _trained()
    low = tok.lower()
    hit = full.get(low)
    if hit is not None:
        return hit
    if low != tok and re.match("[A-Z]", tok):
        return "NNP"
    if re.fullmatch("[0-9]+([.,][0-9]+)?", tok):
        return "CD"
    for suffix, tag in suffix_rules:
        if low.endswith(suffix) and len(low) > len(suffix) + 2:
            return tag
    return "NN"


def pos_tags(tokens_col) -> Column:
    """array<string> of heuristic POS tags, aligned with the token array
    (POSTaggerProcessor contract: tags parallel to tokens). Swap point for
    a real model: a pandas_udf with the same (array<string>) ->
    (array<string>) signature.

    Per-batch distinct-token memo + dict lexicon lookup in an Arrow UDF
    (corpora repeat tokens massively, so most tokens are one memo hit):
    with the round-5 trained lexicon (~450 entries) this beat the
    interpreted Catalyst Column chain it replaced ~2x at sf0.1. The DuckDB
    oracle CASE is generated from the same tables."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def tag_all(arrs):
        memo: dict[str, str] = {}

        def one(arr):
            if arr is None:
                return []
            out = []
            for t in arr:
                got = memo.get(t)
                if got is None:
                    got = memo[t] = pos_tag_python(t)
                out.append(got)
            return out

        return arrs.map(one)

    tag_all.__annotations__ = {"arrs": pd.Series, "return": pd.Series}
    return pandas_udf("array<string>")(tag_all)(tokens_col)


def with_pos_tags(df: DataFrame, tokens_col: str = "tokens", out_col: str = "pos") -> DataFrame:
    return df.withColumn(out_col, pos_tags(F.col(tokens_col)))


def rbem_emissions(
    tokens_col,
    seeds: list[str],
    left_flips: list[str],
    right_flips: list[str],
    decay: float = 2.0,
    max_distance: int = 20,
) -> Column:
    """Per-position emission array for ONE label (URBEM.scala:52-118 with
    exact-match seeds): emission(i) = sum over matched seed positions s of
    decay^(-min(|i-s|, max_distance)), sign-flipped by negators.

    The distance clamp (reference: unbounded, but e^-20 < 1e-8 anyway)
    keeps every emission a multiple of decay^-max_distance — with decay=2
    all partial sums are exactly representable doubles, so scores are
    bit-identical regardless of summation order (engine-portable)."""
    toks = F.transform(tokens_col, lambda t: F.lower(t))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)))

    def positions_of(words: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in words]) if words else F.array().cast("array<string>")
        return F.filter(
            F.zip_with(toks, idx, lambda t, i: F.when(F.array_contains(arr, t), i)),
            lambda x: x.isNotNull(),
        )

    seed_pos = positions_of(seeds)
    lf_pos = positions_of(left_flips)
    rf_pos = positions_of(right_flips)
    base = F.lit(float(decay))

    def emission_at(i: Column) -> Column:
        raw = F.aggregate(
            seed_pos,
            F.lit(0.0),
            lambda acc, s: acc
            + F.pow(
                base,
                -F.least(F.abs(i - s), F.lit(int(max_distance))).cast("double"),
            ),
        )
        # (-1)^(#right flips at pos <= i) * (-1)^(#left flips at pos >= i)
        n_right = F.size(F.filter(rf_pos, lambda f: f <= i))
        n_left = F.size(F.filter(lf_pos, lambda f: f >= i))
        sign = F.when(F.pmod(n_right + n_left, F.lit(2)) == 1, F.lit(-1.0)).otherwise(
            F.lit(1.0)
        )
        return raw * sign

    return F.when(n == 0, F.array().cast("array<double>")).otherwise(
        F.transform(idx, emission_at)
    )


def rbem_polarity(
    df: DataFrame,
    tokens_col: str = "tokens",
    positive: list[str] | None = None,
    negative: list[str] | None = None,
    left_flips: list[str] | None = None,
    right_flips: list[str] | None = None,
    decay: float = 2.0,
    max_distance: int = 20,
    discretize: bool = False,
    out_col: str = "polarity",
    split: str | None = None,
) -> DataFrame:
    """RBEMPolarityProcessor (Sentiment.scala:20-75): polarity score =
    sum(positive emissions) - sum(negative emissions); ``discretize``
    maps to the sign, matching the reference's option (:123-127).

    ``split``: treat ``tokens_col`` as RAW TEXT and split on the literal
    separator INSIDE the Arrow kernel — identical tokens to
    ``F.split(text, sep)`` (str.split keeps empty fields the same way;
    pinned in tests). Ships one string per doc instead of a list<string>
    column: measured NEUTRAL on the 54-token bench corpus (Arrow list
    overhead is small at that length) — use it for long-document corpora
    where the per-token offsets dominate the transfer.

    The score is one ``_score_batch`` call per Arrow batch. With decay=2
    every emission is a dyadic rational, so partial sums are EXACT
    doubles in any summation order — bit-identical to the per-doc
    reference ``_score_doc`` and the DuckDB oracle (pinned in tests);
    measured 2x the Catalyst fold it replaced at sf0.1."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    positive = positive if positive is not None else DEFAULT_POSITIVE
    negative = negative if negative is not None else DEFAULT_NEGATIVE
    left_flips = left_flips if left_flips is not None else []
    right_flips = right_flips if right_flips is not None else DEFAULT_NEGATORS
    if split is not None:
        _validate_literal_split(split)

    pos, neg = frozenset(positive), frozenset(negative)
    lf, rf = frozenset(left_flips), frozenset(right_flips)
    base = float(decay)
    maxd = int(max_distance)

    def score(toks: pd.Series) -> pd.Series:
        arrs = toks.to_numpy()
        if split is not None:
            # literal split, empty fields kept — token-identical to
            # F.split(text, split) on the JVM side
            arrs = [None if t is None else t.split(split) for t in arrs]
        return pd.Series(
            _score_batch(arrs, pos, neg, lf, rf, base, maxd),
            index=toks.index,
        )

    score.__annotations__ = {"toks": pd.Series, "return": pd.Series}
    u = pandas_udf("double")(score)
    out = df.withColumn(out_col, u(F.col(tokens_col)))
    if discretize:
        out = out.withColumn(out_col, F.signum(F.col(out_col)))
    return out


def _validate_literal_split(split: str) -> None:
    """The split= fast path tokenizes with Python str.split — a LITERAL
    separator. F.split treats its pattern as a Java REGEX, so the two are
    equivalent only for regex-free separators; reject metacharacters (and
    the empty string, which str.split refuses) rather than silently
    mis-tokenizing a caller who passes '\\\\s+'."""
    if not split:
        raise ValueError("split= must be a non-empty LITERAL separator")
    meta = set("\\.[]{}()*+?^$|")
    if any(ch in meta for ch in split):
        raise ValueError(
            f"split={split!r} contains regex metacharacters; the fast path "
            "splits LITERALLY (F.split-equivalent only for literal "
            "separators) — pre-tokenize with F.split for regex separators"
        )


def _score_doc(arr, pos, neg, lf, rf, base, maxd) -> float:
    """Score ONE token array — the per-doc REFERENCE implementation. The
    production Arrow paths use ``_score_batch`` (same arithmetic,
    batch-vectorized lowering/membership); tests pin the two equal row by
    row."""
    import numpy as np

    if arr is None or len(arr) == 0:
        return 0.0
    low = [t.lower() for t in arr]
    n = len(low)
    idx = np.arange(n)
    sp = np.array([i for i, t in enumerate(low) if t in pos], dtype=np.int64)
    sn = np.array([i for i, t in enumerate(low) if t in neg], dtype=np.int64)
    rfp = np.array([i for i, t in enumerate(low) if t in rf], dtype=np.int64)
    lfp = np.array([i for i, t in enumerate(low) if t in lf], dtype=np.int64)
    n_right = (
        np.searchsorted(rfp, idx, side="right")
        if len(rfp)
        else np.zeros(n, dtype=np.int64)
    )
    n_left = (
        len(lfp) - np.searchsorted(lfp, idx, side="left")
        if len(lfp)
        else np.zeros(n, dtype=np.int64)
    )
    sign = np.where(((n_right + n_left) % 2) == 1, -1.0, 1.0)

    def emis(seeds):
        if len(seeds) == 0:
            return np.zeros(n)
        d = np.minimum(np.abs(idx[:, None] - seeds[None, :]), maxd)
        return (base ** (-d.astype(np.float64))).sum(axis=1)

    return float(((emis(sp) - emis(sn)) * sign).sum())


# Max (position x seed-hit) pairs materialized at once by _score_batch —
# bounds the kernel's peak memory on seed-dense batches (~5 int64/f64
# arrays of this length ≈ 160 MB); patchable in tests.
_PAIR_CHUNK = 4_000_000


def _score_batch(arrs, pos, neg, lf, rf, base: float, maxd: int):
    """Fully-flat batch scorer: NO per-document Python or numpy loop. The
    per-doc score expands to a sum over (position i, seed hit s) pairs of
    ``sign(i) * w(s) * base^-min(|i-s|, maxd)`` with w = +1 for positive
    seeds, -1 for negative (0 if a token is in both sets — matching the
    reference's exact cancellation); the whole Arrow batch is scored as

    1. one flat ``pd.Series.str.lower`` + four hash-based ``isin`` passes
       (replacing five Python-level per-token passes per doc),
    2. segmented cumsums for the flip signs (value-identical to the
       searchsorted form: rf positions are sorted, so ``#rf <= i`` is the
       inclusive mask cumsum and ``#lf >= i`` is total - cumsum + mask),
    3. a ragged (seed-hit x doc-positions) pair expansion scored in one
       vectorized expression and reduced per doc with ``bincount``.

    With dyadic decay (default 2.0) every pair term is an exact multiple
    of 2^-maxd, so the reordered summation is bit-identical to
    ``_score_doc`` (pinned in tests); for non-dyadic decay the result may
    differ from it by float rounding, as any reduction-order change
    would.

    Pair expansion is chunked (~4M pairs) so worst-case seed-dense docs
    cannot blow batch memory. Returns float64 aligned with ``arrs``."""
    import numpy as np
    import pandas as pd

    n_docs = len(arrs)
    out = np.zeros(n_docs, dtype=np.float64)
    lens = np.fromiter(
        (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=n_docs
    )
    total = int(lens.sum())
    if total == 0:
        return out
    flat = np.empty(total, dtype=object)
    off = 0
    for a, ln in zip(arrs, lens):
        if ln:
            flat[off : off + ln] = a
            off += int(ln)
    low = pd.Series(flat, dtype=object).str.lower()
    zeros = np.zeros(total, dtype=bool)
    pos_m = low.isin(pos).to_numpy() if pos else zeros
    neg_m = low.isin(neg).to_numpy() if neg else zeros
    lf_m = low.isin(lf).to_numpy() if lf else zeros
    rf_m = low.isin(rf).to_numpy() if rf else zeros

    sg = np.flatnonzero(pos_m | neg_m)  # global flat idx of seed hits
    if len(sg) == 0:
        return out

    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    local_i = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)

    def seg_incl_cumsum(mask):
        g = np.cumsum(mask.astype(np.int64))
        # clip: trailing EMPTY/None docs have start == total (out of
        # bounds); their head value is repeated 0 times so any in-range
        # index works
        sc = np.minimum(starts, total - 1)
        head = g[sc] - mask[sc]  # exclusive prefix at each doc start
        return g - np.repeat(head, lens)

    n_right = seg_incl_cumsum(rf_m)
    cl = seg_incl_cumsum(lf_m)
    tot_lf = np.bincount(doc_of, weights=lf_m, minlength=n_docs).astype(np.int64)
    n_left = np.repeat(tot_lf, lens) - cl + lf_m
    sign = np.where(((n_right + n_left) % 2) == 1, -1.0, 1.0)

    w = pos_m[sg].astype(np.float64) - neg_m[sg].astype(np.float64)
    seed_doc = doc_of[sg]
    seed_local = local_i[sg]
    reps = lens[seed_doc]  # pairs contributed by each seed hit

    # chunk the ragged expansion so sum(reps) per chunk stays bounded
    creps = np.cumsum(reps)
    chunk_pairs = _PAIR_CHUNK
    lo = 0
    while lo < len(sg):
        done_pairs = int(creps[lo - 1]) if lo > 0 else 0
        hi = min(int(np.searchsorted(creps, done_pairs + chunk_pairs)) + 1, len(sg))
        r = reps[lo:hi]
        n_pairs = int(r.sum())
        pair_start = np.repeat(starts[seed_doc[lo:hi]], r)
        within = np.arange(n_pairs, dtype=np.int64) - np.repeat(np.cumsum(r) - r, r)
        pair_i = pair_start + within
        d = np.minimum(np.abs(within - np.repeat(seed_local[lo:hi], r)), maxd)
        contrib = (base ** (-d.astype(np.float64))) * np.repeat(w[lo:hi], r) * sign[pair_i]
        out += np.bincount(
            np.repeat(seed_doc[lo:hi], r), weights=contrib, minlength=n_docs
        )
        lo = hi
    return out


DEFAULT_POSITIVE = [
    "good", "great", "excellent", "amazing", "love", "wonderful", "best",
    "happy", "nice", "fantastic", "awesome", "perfect", "fine", "super",
]
DEFAULT_NEGATIVE = [
    "bad", "terrible", "awful", "hate", "horrible", "worst", "poor",
    "sad", "wrong", "broken", "disappointing", "useless",
]
DEFAULT_NEGATORS = ["not", "no", "never", "hardly", "barely"]


# --- per-language RBEM models (reference ships binary per-language RBEM
# models, Sentiment.scala:20-133; here: bundled seed tables + a
# language-dispatching Arrow scorer) --------------------------------------

_RBEM_SEEDS_PATH = None


def load_rbem_models(path: str | None = None) -> dict[str, dict[str, list[str]]]:
    """Bundled per-language seed lexicons (ml/data/rbem_seeds.json):
    {lang: {positive, negative, left_flips, right_flips}}."""
    import json
    import os

    p = path or os.path.join(
        os.path.dirname(__file__), "data", "rbem_seeds.json"
    )
    with open(p, encoding="utf-8") as f:
        raw = json.load(f)
    return {k: v for k, v in raw.items() if not k.startswith("_")}


def rbem_polarity_by_lang(
    df: DataFrame,
    tokens_col: str = "tokens",
    lang_col: str = "lang",
    models: dict[str, dict[str, list[str]]] | None = None,
    decay: float = 2.0,
    max_distance: int = 20,
    discretize: bool = False,
    out_col: str = "polarity",
    split: str | None = None,
) -> DataFrame:
    """Language-dispatching RBEM polarity: each row is scored with the
    seed model for its ``lang_col`` value (unknown language -> empty
    model -> 0.0). One Arrow pandas_udf over (tokens, lang); the model
    map is a closure constant broadcast with the task — per-language
    models like the reference's, without per-language passes over the
    data. Dyadic decay (default 2.0) keeps scores exact doubles, so a
    SQL oracle generated from the same tables hash-matches."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if split is not None:
        _validate_literal_split(split)
    models = models if models is not None else load_rbem_models()
    frozen = {
        lang: (
            frozenset(m.get("positive", ())),
            frozenset(m.get("negative", ())),
            frozenset(m.get("left_flips", ())),
            frozenset(m.get("right_flips", ())),
        )
        for lang, m in models.items()
    }
    base, maxd = float(decay), int(max_distance)

    def score(toks: pd.Series, langs: pd.Series) -> pd.Series:
        # Group the batch by language and run the batch-vectorized kernel
        # once per language group (unknown/null lang -> empty model -> 0.0,
        # which is the array's initial value, so those rows need no pass).
        import numpy as np

        tv = toks.to_numpy()
        if split is not None:
            # np.empty+fill, not np.array(list-of-lists): equal-length
            # rows would coerce to a 2D array
            tv2 = np.empty(len(tv), dtype=object)
            for i, t in enumerate(tv):
                tv2[i] = None if t is None else t.split(split)
            tv = tv2
        lv = langs.to_numpy()
        out = np.zeros(len(tv), dtype=np.float64)
        for lang in pd.unique(lv):
            model = frozen.get(lang)
            if model is None:
                continue
            pos, neg, lf, rf = model
            sel = np.flatnonzero(lv == lang)
            out[sel] = _score_batch(tv[sel], pos, neg, lf, rf, base, maxd)
        return pd.Series(out, index=toks.index, dtype="float64")

    score.__annotations__ = {
        "toks": pd.Series, "langs": pd.Series, "return": pd.Series
    }
    u = pandas_udf("double")(score)
    out = df.withColumn(out_col, u(F.col(tokens_col), F.col(lang_col)))
    if discretize:
        out = out.withColumn(out_col, F.signum(F.col(out_col)))
    return out


def rbem_multilang_oracle_sql(
    models: dict[str, dict[str, list[str]]],
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    max_distance: int = 20,
) -> str:
    """ANSI-SQL equivalent of ``rbem_polarity_by_lang`` GENERATED from the
    same model tables (the pos_tag_case_sql pattern: the oracle cannot
    drift from the implementation). Supports right_flips only in the sign
    CTE (left_flips empty in every bundled model); decay fixed at 2.0 so
    power() is exact."""
    langs = sorted(models)
    for lang in langs:
        if models[lang].get("left_flips"):
            raise ValueError("oracle generator supports right_flips only")

    def in_list(words):
        return ", ".join(f"'{w}'" for w in sorted(words)) or "''"

    all_seeds = sorted(
        {w for m in models.values() for w in m.get("positive", ())}
        | {w for m in models.values() for w in m.get("negative", ())}
    )
    flip_branches = " ".join(
        f"WHEN lang = '{lang}' AND tok IN ({in_list(models[lang].get('right_flips', ()))}) THEN 1"
        for lang in langs
    )
    ep_branches = " ".join(
        f"WHEN p.lang = '{lang}' AND s.tok IN ({in_list(models[lang].get('positive', ()))}) "
        f"THEN power(2.0, -least(abs(p.i - s.i), {int(max_distance)}))"
        for lang in langs
    )
    en_branches = " ".join(
        f"WHEN p.lang = '{lang}' AND s.tok IN ({in_list(models[lang].get('negative', ()))}) "
        f"THEN power(2.0, -least(abs(p.i - s.i), {int(max_distance)}))"
        for lang in langs
    )
    return f"""
WITH docs AS (
  SELECT {id_col}, {lang_col} AS lang,
         string_split(lower({text_col}), ' ') AS tk FROM {table}
),
pos AS (
  SELECT {id_col}, lang, unnest(tk) AS tok,
         generate_subscripts(tk, 1) - 1 AS i
  FROM docs
),
signed AS (
  SELECT {id_col}, lang, tok, i,
         CASE WHEN SUM(CASE {flip_branches} ELSE 0 END)
                   OVER (PARTITION BY {id_col} ORDER BY i) % 2 = 1
              THEN -1.0 ELSE 1.0 END AS sign
  FROM pos
),
emit AS (
  SELECT p.{id_col}, p.i,
         SUM(CASE {ep_branches} ELSE 0 END) AS ep,
         SUM(CASE {en_branches} ELSE 0 END) AS en
  FROM pos p
  JOIN pos s ON p.{id_col} = s.{id_col} AND s.tok IN ({in_list(all_seeds)})
  GROUP BY p.{id_col}, p.i
)
SELECT g.{id_col},
       COALESCE(SUM((e.ep - e.en) * g.sign), 0.0) AS polarity
FROM signed g
LEFT JOIN emit e ON g.{id_col} = e.{id_col} AND g.i = e.i
GROUP BY g.{id_col}
"""
