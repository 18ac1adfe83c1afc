"""Property-based tests for the round-5 training-data operators: the
operators' invariants hold on arbitrary corpora, not just fixtures.
Python reference models are deliberately naive (brute force) — Spark must
match them exactly."""

from __future__ import annotations

import re
from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

WORD = st.text(alphabet="abcdef", min_size=1, max_size=3)
PARA = st.lists(WORD, min_size=1, max_size=4).map(" ".join)
DOC = st.lists(PARA, min_size=0, max_size=4).map("\n\n".join)
CORPUS = st.lists(DOC, min_size=1, max_size=6)


def _paras(text: str) -> list[str]:
    return [p.strip() for p in re.split(r"\n{2,}", text) if p.strip()]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=CORPUS)
def test_paragraph_dedup_matches_naive_model(spark, corpus):
    from tuktu_spark.llm.dedup import paragraph_dedup

    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["para_idx"]): r["keep"]
           for r in paragraph_dedup(df).collect()}

    seen: set[str] = set()
    want = {}
    for i, t in rows:
        for j, p in enumerate(_paras(t)):
            want[(i, j)] = p not in seen
            seen.add(p)
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=CORPUS)
def test_paragraph_rebuild_is_project_of_kept(spark, corpus):
    from tuktu_spark.llm.dedup import paragraph_dedup_rebuild

    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in paragraph_dedup_rebuild(df).collect()}
    seen: set[str] = set()
    for i, t in rows:
        kept = []
        for p in _paras(t):
            if p not in seen:
                kept.append(p)
                seen.add(p)
        if kept:
            assert got[i] == "\n\n".join(kept)
        else:
            # fully-duplicate (or empty) docs are absent from the rebuild
            assert i not in got


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(st.lists(WORD, min_size=0, max_size=8).map(" ".join),
                    min_size=1, max_size=5),
    n=st.integers(min_value=2, max_value=4),
)
def test_duplicate_ngram_spans_matches_naive_model(spark, corpus, n):
    from tuktu_spark.llm.dedup import duplicate_ngram_spans

    rows = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["start_idx"]): r["n_dups"]
           for r in duplicate_ngram_spans(df, n=n, min_count=2).collect()}
    want = {k: c for k, (_g, c) in naive_ngram_spans(rows, n, 2).items()}
    assert got == want


def naive_ngram_spans(rows, n: int, min_count: int) -> dict:
    """Naive window model of ``duplicate_ngram_spans``: {(id, start):
    (gram text, corpus count)} for every n-token window whose text occurs
    >= min_count times across ``rows`` of (id, text)."""
    grams: Counter = Counter()
    positions = []
    for i, t in rows:
        toks = [x for x in re.split(r"\s+", (t or "").strip()) if x]
        for j in range(len(toks) - n + 1):
            g = " ".join(toks[j : j + n])
            grams[g] += 1
            positions.append((i, j, g))
    return {(i, j): (g, grams[g]) for i, j, g in positions if grams[g] >= min_count}


def naive_span_intervals(rows, n: int, min_count: int) -> set:
    """(id, span_start, span_end) of ``duplicate_span_intervals``: the
    flagged starts of ``naive_ngram_spans`` merged per document while
    consecutive starts are <= n apart; span_end is exclusive."""
    starts: dict = {}
    for i, j in sorted(naive_ngram_spans(rows, n, min_count)):
        starts.setdefault(i, []).append(j)
    out = set()
    for i, js in starts.items():
        lo = prev = js[0]
        for j in js[1:]:
            if j - prev > n:
                out.add((i, lo, prev + n))
                lo = j
            prev = j
        out.add((i, lo, prev + n))
    return out


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    counts=st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=20),
    budget=st.integers(min_value=1, max_value=60),
)
def test_pack_sequences_matches_greedy_model(spark, counts, budget):
    import warnings

    from tuktu_spark.llm.mixing import pack_sequences

    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        got = {r["doc_id"]: r["chunk_id"]
               for r in pack_sequences(df, budget, "n").collect()}
    cum = 0
    for i, c in rows:
        cum += c
        assert got[i] == (cum - 1) // budget


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(st.integers(min_value=-1000, max_value=1000),
                  min_size=1, max_size=200, unique=True),
    parts=st.integers(min_value=1, max_value=7),
)
def test_global_row_number_matches_enumerate(spark, vals, parts):
    from tuktu_spark.operators.joins import _global_row_number

    df = spark.createDataFrame([(v,) for v in vals], "k long").repartition(parts)
    from tuktu_spark.tables import release

    try:
        got = {r["k"]: r["rn"]
               for r in _global_row_number(df, ["k"], "rn").collect()}
    finally:
        release()
    want = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(st.tuples(st.integers(min_value=0, max_value=10**6),
                            st.integers(min_value=-50, max_value=50)),
                  min_size=1, max_size=150, unique_by=lambda t: t[0]),
    parts=st.integers(min_value=1, max_value=6),
)
def test_global_prefix_sum_matches_running_total(spark, rows, parts):
    from tuktu_spark.operators.joins import _global_prefix_sum

    df = spark.createDataFrame(rows, "k long, v long").repartition(parts)
    from tuktu_spark.tables import release

    try:
        got = {r["k"]: r["c"]
               for r in _global_prefix_sum(df, ["k"], "v", "c").collect()}
    finally:
        release()
    cum, want = 0, {}
    for k, v in sorted(rows):
        cum += v
        want[k] = cum
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(
        st.lists(WORD, min_size=0, max_size=6).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    n_target=st.integers(min_value=1, max_value=3),
)
def test_dsir_weights_match_naive_model(spark, corpus, n_target):
    """End-to-end DSIR weights equal a naive Python reimplementation:
    featurize (unigrams+bigrams, md5 mod B), fit Laplace llr over
    target=first n docs vs raw=all, sum quantized llrs per doc."""
    import hashlib
    import math

    from tuktu_spark.llm.dsir import (
        LLR_SCALE_BITS,
        dsir_weights,
        hashed_ngram_features,
        train_dsir_llr,
    )

    B = 16
    rows = [(i, t) for i, t in enumerate(corpus)]
    target_ids = {i for i, _ in rows[: min(n_target, len(rows))]}

    def feats(text):
        toks = text.split(" ")
        grams = list(toks) + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        return [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B
            for g in grams
        ]

    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.split("text", " ").alias("tokens")
    )
    tf = hashed_ngram_features(
        df.filter(F.col("doc_id").isin(*target_ids)), buckets=B
    )
    rf = hashed_ngram_features(df, buckets=B)
    llr = train_dsir_llr(tf, rf, buckets=B)
    got = {
        r["doc_id"]: (r["n_feats"], r["logw_q"])
        for r in dsir_weights(rf, llr).collect()
    }

    ct, cr = Counter(), Counter()
    for i, t in rows:
        for b in feats(t):
            cr[b] += 1
            if i in target_ids:
                ct[b] += 1
    tt, tr = sum(ct.values()) + 1.0 * B, sum(cr.values()) + 1.0 * B
    lut = {
        b: math.floor(
            (1 << LLR_SCALE_BITS)
            * (math.log(ct[b] + 1.0) - math.log(tt)
               - math.log(cr[b] + 1.0) + math.log(tr))
        )
        for b in range(B)
    }
    want = {
        i: (len(feats(t)), sum(lut[b] for b in feats(t))) for i, t in rows
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=4)
)
def test_temperature_sample_matches_naive_model(spark, sizes):
    """alpha=0.5 temperature sampling keeps exactly the rows the naive
    sqrt-rate hash rule keeps, for arbitrary domain size mixes."""
    import hashlib
    import math

    from tuktu_spark.llm.mixing import HASH_MOD, temperature_sample

    rows, doc = [], 0
    for d, n in enumerate(sizes):
        for _ in range(n):
            rows.append((doc, f"dom{d}"))
            doc += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = sorted(
        r["doc_id"] for r in temperature_sample(df, 0.5).collect()
    )
    n_min = min(sizes)
    rate = {f"dom{d}": math.sqrt(n_min / n) for d, n in enumerate(sizes)}
    want = sorted(
        i
        for i, lang in rows
        if int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % HASH_MOD
        < int(rate[lang] * HASH_MOD)
    )
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(
            st.text(
                alphabet=st.characters(
                    codec="utf-8", exclude_characters="\n",
                    exclude_categories=("Cs",),
                ),
                max_size=30,
            ),
            min_size=1, max_size=8,
        ),
        min_size=1, max_size=20,
    ),
    min_chars=st.integers(min_value=0, max_value=10),
    max_digit=st.one_of(st.none(), st.floats(min_value=0, max_value=1)),
    max_punct=st.one_of(st.none(), st.floats(min_value=0, max_value=1)),
)
def test_line_filter_matches_python_model(spark, docs, min_chars, max_digit, max_punct):
    """line_filter_table == a direct Python model of the documented rules
    (Unicode-aware punct = not letter/digit/whitespace), on arbitrary
    Unicode lines."""
    from functools import lru_cache

    from tuktu_spark.llm.text import line_filter_table

    # exact mirror of the Column rules: digits are ASCII [0-9]; punct is
    # the complement of \p{L} / \p{N} / Java-\s (ASCII whitespace only —
    # NBSP etc. count as punctuation, deliberately: they ARE decoration).
    # Letter/digit classification consults the JVM's OWN Unicode tables
    # (java.lang.Character.getType is exactly what Java regex \p{L}/\p{N}
    # reads) instead of Python's unicodedata: the two runtimes ship
    # different Unicode versions (JDK 17 = 13.0, CPython 3.11 = 14.0), so
    # a codepoint assigned in between (e.g. U+12F90, Cypro-Minoan, added
    # in 14.0) is a letter to Python but UNASSIGNED — hence "punct" — to
    # the JVM, falsifying a unicodedata-based model on chars the
    # implementation classifies exactly as documented (r13 inherited-state
    # fix; the structural logic under test is unchanged).
    _JAVA_WS = set(" \t\n\x0b\f\r")
    jchar = spark._jvm.java.lang.Character
    # Character.getType: 1-5 = Lu Ll Lt Lm Lo (\p{L}); 9-11 = Nd Nl No (\p{N})
    _ALNUM_TYPES = {1, 2, 3, 4, 5, 9, 10, 11}

    @lru_cache(maxsize=None)
    def jvm_alnum(c: str) -> bool:
        return jchar.getType(ord(c)) in _ALNUM_TYPES

    def keep(line: str) -> bool:
        if len(line) < min_chars:
            return False
        n = max(len(line), 1)
        if max_digit is not None:
            if sum(c in "0123456789" for c in line) / n > max_digit:
                return False
        if max_punct is not None:
            def is_punct(c):
                return not (jvm_alnum(c) or c in _JAVA_WS)
            if sum(is_punct(c) for c in line) / n > max_punct:
                return False
        return True

    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_kept"], r["chars_removed"])
        for r in line_filter_table(
            df, min_chars=min_chars, max_digit_frac=max_digit,
            max_punct_frac=max_punct,
        ).collect()
    }
    for i, lines in enumerate(docs):
        kept = [l for l in lines if keep(l)]
        want_text = "\n".join(kept)
        removed = sum(len(l) for l in lines) - sum(len(l) for l in kept)
        assert got[i] == (want_text, len(lines), len(kept), removed), (
            i, lines, got[i]
        )


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=0, max_size=20),
        min_size=2, max_size=60,
    ),
    d=st.integers(min_value=1, max_value=2),
)
def test_edit_distance_pairs_property(spark, words, d):
    """edit_distance_pairs == naive all-pairs for arbitrary short strings
    (incl. empty strings and length-20 tails that stress the q-gram
    count filter)."""
    import itertools

    from tuktu_spark.llm.dedup import edit_distance_pairs

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return dp[n]

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df, max_dist=d, q=2).collect()
    }
    want = {
        (i, j, lev(words[i], words[j]))
        for i, j in itertools.combinations(range(len(words)), 2)
        if lev(words[i], words[j]) <= d
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(WORD, min_size=0, max_size=8).map(" ".join),
        min_size=1, max_size=8,
    ),
    copies=st.lists(st.integers(min_value=1, max_value=4), min_size=8, max_size=8),
)
def test_distinct_content_modes_match_id_level(spark, texts, copies):
    """r9 invariant: distinct_content=True is BIT-IDENTICAL to the
    id-level pipeline for minhash LSH and simhash banding on ARBITRARY
    corpora with arbitrary duplication multiplicities (including empty
    and sub-shingle texts, which both modes must exclude identically)."""
    from tuktu_spark.llm.dedup import minhash_dedup_pairs, simhash_near_pairs

    rows, i = [], 0
    for t, c in zip(texts, copies):
        for _ in range(c):
            rows.append((i, t))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    mh_id = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in minhash_dedup_pairs(df, threshold=0.8).collect()
    }
    mh_dc = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in minhash_dedup_pairs(
            df, threshold=0.8, distinct_content=True
        ).collect()
    }
    assert mh_dc == mh_id

    sh_id = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(df, max_hamming=2).collect()
    }
    sh_dc = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_pairs(
            df, max_hamming=2, distinct_content=True
        ).collect()
    }
    assert sh_dc == sh_id


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(WORD, min_size=0, max_size=8).map(" ".join),
        min_size=1, max_size=8,
    ),
)
def test_fuzzy_decontamination_consistent_with_self_join_pipeline(
    spark, texts
):
    """r13: fuzzy_contamination_pairs run with the corpus AS the eval
    set must agree with minhash_dedup_pairs on the same corpus — same
    shingles, same signatures, same banding, so identical recall by
    construction (this pins bipartite == self-join without depending on
    LSH recall): cross pairs (i != j, both orders collapsed) equal the
    self-join pair set, every pairable doc self-matches at exactly 1.0,
    and decontaminate_fuzzy keeps exactly the unflagged ids."""
    from pyspark.sql import functions as F

    from tuktu_spark.llm.decontaminate import (
        decontaminate_fuzzy,
        fuzzy_contamination_pairs,
    )
    from tuktu_spark.llm.dedup import minhash_dedup_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = df.select(F.col("doc_id").alias("eval_id"), "text")

    fuzzy = {
        (r["doc_id"], r["eval_id"]): round(r["jaccard"], 12)
        for r in fuzzy_contamination_pairs(
            df, ev, n=3, threshold=0.8
        ).collect()
    }
    self_pairs = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
        for r in minhash_dedup_pairs(df, threshold=0.8).collect()
    }
    cross = {
        (min(a, b), max(a, b)): j for (a, b), j in fuzzy.items() if a != b
    }
    assert cross == self_pairs
    # symmetric: every cross pair appears in both orders with equal j
    for (a, b), j in list(fuzzy.items()):
        if a != b:
            assert fuzzy.get((b, a)) == j
    pairable = {i for i, t in rows if len([w for w in t.split() if w]) >= 3}
    assert {k for k in fuzzy if k[0] == k[1]} == {(i, i) for i in pairable}
    assert all(fuzzy[(i, i)] == 1.0 for i in pairable)

    kept = {
        r["doc_id"]
        for r in decontaminate_fuzzy(
            df, ev.select("text"), n=3, threshold=0.8
        ).collect()
    }
    assert kept == {i for i, _ in rows} - {a for a, _ in fuzzy}


def _py_decontaminate_spans(rows, ev_texts, n):
    """Naive reference: flag every position whose n-gram is in the eval
    set, merge starts into intervals (gap <= n), drop covered tokens."""
    ev = set()
    for t in ev_texts:
        tk = t.split()
        for i in range(len(tk) - n + 1):
            ev.add(" ".join(tk[i : i + n]))
    out = {}
    for did, text in rows:
        tk = text.split()
        starts = [
            i for i in range(max(len(tk) - n + 1, 0))
            if " ".join(tk[i : i + n]) in ev
        ]
        intervals = []
        for s in starts:  # ascending; merge iff start gap <= n
            if intervals and s - (intervals[-1][1] - n) <= n:
                intervals[-1][1] = s + n
            else:
                intervals.append([s, s + n])
        kept = [
            t for i, t in enumerate(tk)
            if not any(lo <= i < hi for lo, hi in intervals)
        ]
        if kept:
            out[did] = " ".join(kept)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(WORD, min_size=0, max_size=10).map(" ".join),
        min_size=1, max_size=8,
    ),
    ev_picks=st.lists(st.integers(min_value=0, max_value=7), min_size=1, max_size=3),
    n=st.integers(min_value=1, max_value=4),
)
def test_decontaminate_spans_matches_python_reference(spark, texts, ev_picks, n):
    """r10: span-level decontamination equals the naive Python model on
    ARBITRARY corpora — eval texts drawn from the corpus itself (the
    planted-leak shape), covering n=1 (single-token cuts), overlapping
    and adjacent islands, wholly-contaminated docs (absent), and
    sub-n-gram docs (pass through normalized)."""
    from tuktu_spark.llm.decontaminate import decontaminate_spans

    rows = [(i, " ".join(t.split())) for i, t in enumerate(texts)]
    ev_texts = [rows[p % len(rows)][1] for p in ev_picks]
    ev_texts = [t for t in ev_texts if t]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    if ev_texts:
        ev = spark.createDataFrame([(t,) for t in ev_texts], "text string")
    else:
        ev = spark.createDataFrame([], "text string")
    got = {
        r["doc_id"]: r["text"]
        for r in decontaminate_spans(df, ev, n=n).collect()
    }
    want = _py_decontaminate_spans(rows, ev_texts, n)
    assert got == want


def _py_normalize(t: str) -> str:
    """Mirror of decontaminate._norm_text: lowercase + collapse every
    non-letter/digit run (Unicode classes) to one space."""
    out, prev_space = [], False
    for ch in t.lower():
        if ch.isalnum():
            out.append(ch)
            prev_space = False
        elif not prev_space:
            out.append(" ")
            prev_space = True
    return "".join(out)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="aB!,é七 ", min_size=1, max_size=6),
            min_size=0, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=6,
    ),
    ev_picks=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=2),
    n=st.integers(min_value=1, max_value=3),
)
def test_normalized_contamination_matches_python_reference(
    spark, texts, ev_picks, n
):
    """r10: contamination_report(normalize=True) equals the naive model
    over ARBITRARY mixed-case/punctuated/Unicode corpora — including
    CJK and accented letters (the ASCII-only-class regression this
    round caught and fixed)."""
    from tuktu_spark.llm.decontaminate import contamination_report

    rows = [(i, t) for i, t in enumerate(texts)]
    ev_texts = [rows[p % len(rows)][1] for p in ev_picks]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(t,) for t in ev_texts], "text string")

    def grams(t):
        tk = [x for x in _py_normalize(t).split(" ") if x]
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    ev_grams = set().union(*(grams(t) for t in ev_texts)) if ev_texts else set()
    want = {}
    for did, t in rows:
        hits = len(grams(t) & ev_grams)
        if hits:
            want[did] = hits
    got = {
        r["doc_id"]: r["n_matched_grams"]
        for r in contamination_report(df, ev, n=n, normalize=True).collect()
    }
    assert got == want


def _py_decontaminate_spans_normalized(rows, ev_texts, n):
    """Naive reference for decontaminate_spans(normalize=True): eval
    grams over the whole-string-normalized word sequence; corpus words
    expanded PER RAW TOKEN with back-pointers so matched windows map to
    raw token intervals (a partially-covered raw token is removed
    whole); overlap/abut merge; cut; re-join with single spaces."""
    ev = set()
    for t in ev_texts:
        tk = [x for x in _py_normalize(t).split(" ") if x]
        for i in range(len(tk) - n + 1):
            ev.add(" ".join(tk[i : i + n]))
    out = {}
    for did, text in rows:
        raw = text.split()
        pairs = []  # (normalized word, raw token index)
        for i, tok in enumerate(raw):
            for w in _py_normalize(tok).split(" "):
                if w:
                    pairs.append((w, i))
        merged = []
        for j in range(max(len(pairs) - n + 1, 0)):
            win = pairs[j : j + n]
            if " ".join(w for w, _ in win) in ev:
                s, e = win[0][1], win[-1][1] + 1
                if merged and s <= merged[-1][1]:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
        kept = [
            t for i, t in enumerate(raw)
            if not any(lo <= i < hi for lo, hi in merged)
        ]
        if kept:
            out[did] = " ".join(kept)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="aB!,é七 ", min_size=1, max_size=6),
            min_size=0, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=6,
    ),
    ev_picks=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=2),
    n=st.integers(min_value=1, max_value=3),
)
def test_normalized_spans_match_python_reference(spark, texts, ev_picks, n):
    """r11 (verdict #4): decontaminate_spans(normalize=True) equals the
    naive per-token-normalization model on ARBITRARY mixed-case/
    punctuated/Unicode corpora — covering multi-word raw tokens ("a,B"
    normalizing to two words), tokens normalizing to nothing ("!,"),
    n=1 single-word cuts, overlapping islands, wholly-contaminated
    docs (absent) and clean docs (whitespace-normalized pass-through)."""
    from tuktu_spark.llm.decontaminate import decontaminate_spans

    rows = [(i, t) for i, t in enumerate(texts)]
    ev_texts = [rows[p % len(rows)][1] for p in ev_picks]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(t,) for t in ev_texts], "text string")
    got = {
        r["doc_id"]: r["text"]
        for r in decontaminate_spans(df, ev, n=n, normalize=True).collect()
    }
    want = _py_decontaminate_spans_normalized(rows, ev_texts, n)
    assert got == want


def _py_components(edges):
    """Naive reference: union-find over edges -> {node: min node of its
    component} for every node an edge names."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    for a, b in edges:
        union(a, b)
    comps = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    return {m: min(members) for members in comps.values() for m in members}


def _py_keep_representatives(ids_scores, edges):
    """Naive reference: union-find components over edges, keep argmax
    (score, then min id) per component among ids present in the corpus;
    docs outside any component pass through."""
    comps = {}
    for node, root in _py_components(edges).items():
        comps.setdefault(root, []).append(node)
    scores = dict(ids_scores)
    losers = set()
    for members in comps.values():
        present = [m for m in members if m in scores]
        if not present:
            continue
        neg_inf = float("-inf")
        win = min(
            present,
            key=lambda m: (-(scores[m] if scores[m] is not None else neg_inf), m),
        )
        losers.update(m for m in present if m != win)
    return {i for i, _ in ids_scores if i not in losers}


@settings(max_examples=2, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    graphs=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=11),
                st.integers(min_value=0, max_value=11),
            ),
            min_size=1, max_size=14,
        ),
        min_size=1, max_size=6,
    ),
    chain_seed=st.integers(min_value=0, max_value=2**16),
)
def test_connected_components_match_union_find(spark, graphs, chain_seed):
    """connected_components equals a naive union-find on random graphs with
    self-loops, duplicate and reversed edges and disconnected parts, plus a
    star, a clique and a 45-node chain in shuffled id order (some node is
    over 20 hops from the chain's min). Each graph gets its own id range,
    so one call checks them all."""
    import random

    from tuktu_spark.operators.iterative import connected_components

    star = [(0, i) for i in range(1, 8)]
    clique = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    edges = []
    for k, g in enumerate(graphs + [star, clique]):
        g = [(a + 100 * k, b + 100 * k) for a, b in g]
        edges += g + [(b, a) for a, b in g[::3]] + g[:1]
    chain = list(range(1000, 1045))
    random.Random(chain_seed).shuffle(chain)
    edges += list(zip(chain, chain[1:]))
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _py_components(edges)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(min_value=1, max_value=10),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=0, max_size=12,
    ),
    score_mod=st.integers(min_value=1, max_value=4),
    with_nulls=st.booleans(),
)
def test_keep_representatives_matches_union_find(
    spark, n, edges, score_mod, with_nulls
):
    """r11: keep_cluster_representatives equals a naive union-find +
    argmax model on arbitrary edge sets — including self-loops, edges
    naming docs outside the corpus, duplicate edges, NULL scores, score
    ties, and singleton docs."""
    from tuktu_spark.llm.dedup import keep_cluster_representatives

    ids_scores = [
        (i, None if (with_nulls and i % 3 == 0) else float(i % score_mod))
        for i in range(n)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    corpus = spark.createDataFrame(
        ids_scores, "doc_id long, quality double"
    )
    if edges:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    else:
        pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]
        for r in keep_cluster_representatives(
            corpus, pairs, score_col="quality"
        ).collect()
    }
    assert got == _py_keep_representatives(ids_scores, edges)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="aB!,é七 ", min_size=1, max_size=6),
            min_size=0, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=6,
    ),
    ev_picks=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=2),
    n=st.integers(min_value=1, max_value=3),
    normalize=st.booleans(),
)
def test_contamination_attribution_matches_python_reference(
    spark, texts, ev_picks, n, normalize
):
    """r12: contamination_attribution equals the naive per-(doc, eval)
    model over arbitrary corpora (raw AND normalized matching), with
    duplicate eval texts under distinct eval ids attributed
    independently."""
    from tuktu_spark.llm.decontaminate import contamination_attribution

    rows = [(i, t) for i, t in enumerate(texts)]
    ev_rows = [(100 + j, rows[p % len(rows)][1]) for j, p in enumerate(ev_picks)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame(ev_rows, "eval_id long, text string")

    def grams(t):
        tk = [
            x
            for x in (_py_normalize(t) if normalize else t).split(" ")
            if x
        ]
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    want = {}
    for did, t in rows:
        g = grams(t)
        for eid, et in ev_rows:
            shared = len(g & grams(et))
            if shared:
                want[(did, eid)] = shared
    got = {
        (r["doc_id"], r["eval_id"]): r["n_shared_grams"]
        for r in contamination_attribution(
            df, ev, n=n, normalize=normalize
        ).collect()
    }
    assert got == want


def _py_spans_policy(rows, ev_texts, n, max_frac):
    """Naive reference for decontaminate_spans_policy (raw matching):
    flag every n-gram window start whose gram is in the eval set, merge
    overlapping/abutting [s, s+n) windows, drop the whole doc when the
    merged coverage exceeds max_frac of its tokens, otherwise cut the
    covered tokens and re-join with single spaces. Docs whose KEPT token
    list is empty are absent — both the wholly-covered case and the
    zero-token (empty/whitespace) doc, matching remove_interval_tokens'
    size(__kept) > 0 filter and the string_agg-over-no-rows shape of the
    driver oracles."""
    ev = set()
    for t in ev_texts:
        tk = t.split()
        for i in range(len(tk) - n + 1):
            ev.add(" ".join(tk[i : i + n]))
    out = {}
    for did, text in rows:
        tk = text.split()
        starts = [
            i
            for i in range(max(len(tk) - n + 1, 0))
            if " ".join(tk[i : i + n]) in ev
        ]
        merged = []
        for s in starts:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], s + n)
            else:
                merged.append([s, s + n])
        covered = sum(hi - lo for lo, hi in merged)
        if covered > max_frac * len(tk):
            continue
        keep = [
            t
            for i, t in enumerate(tk)
            if not any(lo <= i < hi for lo, hi in merged)
        ]
        if not keep:
            continue
        out[did] = " ".join(keep)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="aB!,é七 ", min_size=1, max_size=6),
            min_size=0, max_size=8,
        ).map(" ".join),
        min_size=1, max_size=6,
    ),
    ev_picks=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=2),
    n=st.integers(min_value=1, max_value=3),
    max_frac=st.sampled_from([0.0, 0.3, 0.5, 1.0]),
)
def test_spans_policy_matches_python_reference(
    spark, texts, ev_picks, n, max_frac
):
    """r12: decontaminate_spans_policy equals the naive model over
    arbitrary corpora at several thresholds — including max_frac=0
    (drop every contaminated doc) and max_frac=1 (never drop; plain
    span cutting)."""
    from tuktu_spark.llm.decontaminate import decontaminate_spans_policy

    rows = [(i, t) for i, t in enumerate(texts)]
    ev_texts = [rows[p % len(rows)][1] for p in ev_picks]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(t,) for t in ev_texts], "text string")

    want = _py_spans_policy(rows, ev_texts, n, max_frac)
    got = {
        r["doc_id"]: r["text"]
        for r in decontaminate_spans_policy(
            df, ev, max_frac=max_frac, n=n
        ).collect()
    }
    assert got == want
