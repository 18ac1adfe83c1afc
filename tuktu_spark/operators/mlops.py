"""ML / NLP / time-series flow operators — registry wrappers over
tuktu_spark.ml so flows can use the model layer by name, mirroring the
reference's ML processor surface (ml/processors/*, nlp/processors/*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .registry import flag, operator


@operator("hmm_viterbi")
def hmm_viterbi_op(config: dict):
    """HMM Viterbi decode (processors/hmm/HMM.scala apply path). config:
    {keys: [cols], order_by: col, obs_field: col, model: {pi, a, b}}."""
    from ..ml.hmm import HmmModel, hmm_viterbi

    model = HmmModel.from_dict(config["model"])
    keys = list(config["keys"])
    order_col = config["order_by"]
    obs = config.get("obs_field", "obs")
    return lambda df: hmm_viterbi(df, keys, order_col, obs, model)


@operator("hmm_train")
def hmm_train_op(config: dict):
    """HMM Baum-Welch train (processors/hmm/HMM.scala train path): trains
    on the piped sequences and SAVES the model to config.path (the
    reference's train/serialize trio); passes the input through unchanged
    so flows can chain a decode stage."""
    from ..ml.hmm import hmm_baum_welch

    def transform(df: DataFrame) -> DataFrame:
        model, _ = hmm_baum_welch(
            df,
            list(config["keys"]),
            config["order_by"],
            config.get("obs_field", "obs"),
            n_states=int(config["n_states"]),
            n_obs=int(config["n_obs"]),
            iterations=int(config.get("iterations", 10)),
        )
        model.save(config["path"])
        return df

    return transform


@operator("ar_forecast")
def ar_forecast_op(config: dict):
    """Per-series AR(p) forecast (ARIMA.scala pure-AR path)."""
    from ..ml.timeseries import ar_forecast

    return lambda df: ar_forecast(
        df,
        list(config["keys"]),
        config["order_by"],
        config["value_field"],
        p=int(config.get("p", 3)),
        horizon=int(config.get("horizon", 5)),
    )


@operator("arima_forecast")
def arima_forecast_op(config: dict):
    """Per-series ARIMA(p, d, q) fit + forecast (ARIMA.scala:36-78,404)."""
    from ..ml.timeseries import arima_forecast

    return lambda df: arima_forecast(
        df,
        list(config["keys"]),
        config["order_by"],
        config["value_field"],
        p=int(config.get("p", 2)),
        d=int(config.get("d", 1)),
        q=int(config.get("q", 1)),
        horizon=int(config.get("horizon", 5)),
    )


@operator("changepoint")
def changepoint_op(config: dict):
    """CUSUM change-point per series (timeseries/ChangePointDetection.scala)."""
    from ..ml.timeseries import changepoint_cusum

    return lambda df: changepoint_cusum(
        df,
        list(config["keys"]),
        config["order_by"],
        config["value_field"],
    )


@operator("nbsvm")
def nbsvm_op(config: dict):
    """NBSVM train-and-apply (NBSVMProcessor.scala trio collapsed into one
    flow stage): trains on the piped labeled corpus, scores it, optionally
    saves the model to config.path. config: {tokens_field, label_field,
    vocab_size, beta, path}."""
    from ..ml.nbsvm import nbsvm_predict, nbsvm_train

    def transform(df: DataFrame) -> DataFrame:
        model = nbsvm_train(
            df,
            tokens_col=config.get("tokens_field", "tokens"),
            label_col=config.get("label_field", "label"),
            vocab_size=int(config.get("vocab_size", 20_000)),
            beta=float(config.get("beta", 0.25)),
        )
        if config.get("path"):
            model.save(config["path"])
        return nbsvm_predict(df, model, tokens_col=config.get("tokens_field", "tokens"))

    return transform


@operator("nbsvm_apply")
def nbsvm_apply_op(config: dict):
    """NBSVM apply from a saved model (NBSVMDeserializeProcessor +
    NBSVMApplyProcessor). config: {path, tokens_field}."""
    from ..ml.nbsvm import NbsvmModel, nbsvm_predict

    model = NbsvmModel.load(config["path"])
    return lambda df: nbsvm_predict(
        df, model, tokens_col=config.get("tokens_field", "tokens")
    )


@operator("shorttext")
def shorttext_op(config: dict):
    """ShortTextClassifier train-and-apply (ShortTextClassifierProcessor
    train/apply pair collapsed into one flow stage): trains the seed-word/
    negation-flip n-gram SVM on the piped labeled corpus, scores it,
    optionally saves the model to config.path. config: {tokens_field,
    label_field, seed_words, right_flips, left_flips, min_count,
    vocab_size, default_class, path}."""
    from ..ml.shorttext import shorttext_predict, shorttext_train

    tokens_field = config.get("tokens_field", "tokens")

    def transform(df: DataFrame) -> DataFrame:
        model = shorttext_train(
            df,
            tokens_col=tokens_field,
            label_col=config.get("label_field", "label"),
            seed_words=dict(config.get("seed_words", {})),
            right_flips=list(config.get("right_flips", [])),
            left_flips=list(config.get("left_flips", [])),
            min_count=int(config.get("min_count", 2)),
            vocab_size=int(config.get("vocab_size", 50_000)),
            default_class=float(config.get("default_class", -1.0)),
        )
        if config.get("path"):
            model.save(config["path"])
        return shorttext_predict(df, model, tokens_col=tokens_field)

    return transform


@operator("shorttext_apply")
def shorttext_apply_op(config: dict):
    """ShortTextClassifier apply from a saved model
    (ShortTextClassifierDeserialize/Apply). config: {path, tokens_field}."""
    from ..ml.shorttext import ShortTextModel, shorttext_predict

    model = ShortTextModel.load(config["path"])
    return lambda df: shorttext_predict(
        df, model, tokens_col=config.get("tokens_field", "tokens")
    )


@operator("summarize")
def summarize_op(config: dict):
    """Extractive summarization (nlp/processors/Summarize.scala). config:
    {text_field, score_map_field, num_lines, optimal_sentence_length, base,
    preserve_order, return_plain_text, result}."""
    from ..ml.nlp import summarize

    return lambda df: summarize(
        df,
        text_col=config["text_field"],
        score_map_col=config["score_map_field"],
        num_lines=int(config.get("num_lines", 3)),
        optimal_length=int(config.get("optimal_sentence_length", 11)),
        base=float(config.get("base", 2.0)),
        preserve_order=flag(config, "preserve_order", True),
        as_text=flag(config, "return_plain_text", True),
        out_col=config.get("result", "summary"),
    )


@operator("pos_tags")
def pos_tags_op(config: dict):
    """Heuristic POS tagging (POSTagging.scala:17-64; deterministic
    lexicon+suffix fallback — a real per-language model plugs into the
    same array<string> -> array<string> seam). config: {tokens_field,
    result}."""
    from ..ml.rbem import pos_tags

    from pyspark.sql import functions as F

    tokens = config.get("tokens_field", "tokens")
    out = config.get("result", "pos")
    return lambda df: df.withColumn(out, pos_tags(F.col(tokens)))


@operator("rbem_polarity")
def rbem_polarity_op(config: dict):
    """RBEM polarity (Sentiment.scala:20-75 / URBEM.scala emission
    algebra) with exact-match seed lexicons. config: {tokens_field,
    positive, negative, left_flips, right_flips, decay, discretize,
    result}. With {"by_language": true, "language_field": "lang"} each
    row is scored by the bundled per-language model for its language
    (the reference's one-model-per-language shape; models override via
    "models")."""
    from ..ml.rbem import rbem_polarity, rbem_polarity_by_lang

    if config.get("by_language"):
        return lambda df: rbem_polarity_by_lang(
            df,
            tokens_col=config.get("tokens_field", "tokens"),
            lang_col=config.get("language_field", "lang"),
            models=config.get("models"),
            decay=float(config.get("decay", 2.0)),
            max_distance=int(config.get("max_distance", 20)),
            discretize=flag(config, "discretize", False),
            out_col=config.get("result", "polarity"),
        )
    return lambda df: rbem_polarity(
        df,
        tokens_col=config.get("tokens_field", "tokens"),
        positive=config.get("positive"),
        negative=config.get("negative"),
        left_flips=config.get("left_flips"),
        right_flips=config.get("right_flips"),
        decay=float(config.get("decay", 2.0)),
        max_distance=int(config.get("max_distance", 20)),
        discretize=flag(config, "discretize", False),
        out_col=config.get("result", "polarity"),
    )


@operator("fasttext_buckets")
def fasttext_buckets_op(config: dict):
    """Subword-hash document vectors (FastTextProcessor.scala:20 fallback;
    trained-model seam = ml.fasttext.load_fasttext_model). config:
    {tokens_field, id_field, dim, n}."""
    from ..ml.fasttext import doc_bucket_vectors

    return lambda df: doc_bucket_vectors(
        df,
        tokens_col=config.get("tokens_field", "tokens"),
        id_col=config.get("id_field", "doc_id"),
        dim=int(config.get("dim", 64)),
        n=int(config.get("n", 3)),
    )


@operator("fasttext_similar")
def fasttext_similar_op(config: dict):
    """Similar-doc pairs by sparse cosine over subword-hash vectors
    (bucket equi-join, never all-pairs). config: {tokens_field, id_field,
    dim, n, min_cosine}."""
    from ..ml.fasttext import doc_bucket_vectors, doc_cosine_pairs

    def transform(df: DataFrame) -> DataFrame:
        vec = doc_bucket_vectors(
            df,
            tokens_col=config.get("tokens_field", "tokens"),
            id_col=config.get("id_field", "doc_id"),
            dim=int(config.get("dim", 64)),
            n=int(config.get("n", 3)),
        )
        return doc_cosine_pairs(
            vec,
            id_col=config.get("id_field", "doc_id"),
            min_cosine=float(config.get("min_cosine", 0.5)),
        )

    return transform


@operator("fasttext_vectors")
def fasttext_vectors_op(config: dict):
    """Sentence vectors from a TRAINED fastText model loaded by the
    NATIVE .vec/.bin reader (FastTextVectorProcessor.scala; ml/fasttext_io).
    config: {model_path, tokens_field, id_field, normalize_words}."""
    from ..ml.fasttext import ft_doc_vectors

    def transform(df: DataFrame) -> DataFrame:
        return ft_doc_vectors(
            df,
            config["model_path"],
            tokens_col=config.get("tokens_field", "tokens"),
            id_col=config.get("id_field", "doc_id"),
            normalize_words=flag(config, "normalize_words", True),
        )

    return transform


@operator("fasttext_predict")
def fasttext_predict_op(config: dict):
    """Supervised fastText classification from a natively-loaded .bin
    model (FastTextProcessor.scala predict path). config: {model_path,
    tokens_field, id_field, k}."""
    from ..ml.fasttext import ft_predict

    def transform(df: DataFrame) -> DataFrame:
        return ft_predict(
            df,
            config["model_path"],
            tokens_col=config.get("tokens_field", "tokens"),
            id_col=config.get("id_field", "doc_id"),
            k=int(config.get("k", 1)),
        )

    return transform


@operator("clean_tokens")
def clean_tokens_op(config: dict):
    """Token cleanup family (nlp/processors/cleanup/Cleanup.scala:47-140)
    as one configurable stage: any of punctuation / emoji / short-token /
    ascii-fold / case steps, applied in that order. config: {field,
    result, punctuation, emoji, min_chars, ascii_fold, case}."""
    from pyspark.sql import functions as F

    from ..ml import nlp as N

    field = config.get("field", "tokens")
    result = config.get("result", field)

    def transform(df: DataFrame) -> DataFrame:
        col = F.col(field)
        if config.get("punctuation"):
            col = N.remove_punctuation(col)
        if config.get("emoji"):
            col = N.remove_emoji(col)
        if "min_chars" in config:
            col = N.remove_short_tokens(col, int(config["min_chars"]))
        if config.get("ascii_fold"):
            col = N.ascii_fold(col)
        if config.get("case"):
            col = F.transform(col, lambda t: N.case_fold(t, config["case"]))
        return df.withColumn(result, col)

    return transform


@operator("stem")
def stem_op(config: dict):
    """Snowball stemming (nlp/processors/Snowball.scala — the reference
    wraps the Tartarus JNI lib). algorithm 'porter2' (default) runs the
    from-spec Porter2 implementation as an Arrow-batched pandas UDF;
    'light' is the pure column-algebra suffix stripper (no Python in the
    plan). Works on string or array<string> columns. config: {field,
    result, algorithm}."""
    from pyspark.sql import functions as F

    from ..ml import nlp as N

    field = config.get("field", "tokens")
    result = config.get("result", field)
    algorithm = config.get("algorithm", "porter2")

    def transform(df: DataFrame) -> DataFrame:
        is_array = dict(df.dtypes).get(field, "").startswith("array")
        col = F.col(field)
        if algorithm == "light":
            stemmed = (
                F.transform(col, lambda t: N.stem(t)) if is_array else N.stem(col)
            )
        elif algorithm == "porter2":
            stemmed = N.stem_porter2_tokens(col) if is_array else N.stem_porter2(col)
        else:
            raise ValueError(f"unknown stem algorithm {algorithm!r}")
        return df.withColumn(result, stemmed)

    return transform


@operator("pmi")
def pmi_op(config: dict):
    """Seed-word co-occurrence PMI (PMIProcessor.scala + PMI.scala:6-56).
    config: {tokens_field, seeds, label_field, retain, discriminating}."""
    from ..ml.nlp import pmi_cooccurrence, pmi_discriminating

    def transform(df: DataFrame) -> DataFrame:
        if config.get("discriminating"):
            return pmi_discriminating(
                df,
                config.get("tokens_field", "tokens"),
                list(config["seeds"]),
                config["label_field"],
                retain=int(config.get("retain", 10)),
            )
        return pmi_cooccurrence(
            df,
            config.get("tokens_field", "tokens"),
            list(config["seeds"]),
            config.get("label_field"),
            log=flag(config, "log", True),
        )

    return transform


@operator("word2vec_nearest")
def word2vec_nearest_op(config: dict):
    """Word2VecNearestWordsProcessor: train (or reuse) a word2vec model on
    the piped corpus and emit the top-k nearest words per probe word.
    config: {text_field, words, k, vector_size, min_count, seed}."""
    from pyspark.ml.feature import Word2Vec

    from pyspark.sql import functions as F

    from ..ml.nlp import tokenize

    def transform(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        toks = df.withColumn("__tokens", tokenize(F.col(config.get("text_field", "text"))))
        model = Word2Vec(
            inputCol="__tokens",
            outputCol="__vec",
            vectorSize=int(config.get("vector_size", 32)),
            minCount=int(config.get("min_count", 2)),
            seed=int(config.get("seed", 42)),
        ).fit(toks)
        k = int(config.get("k", 5))
        outs = []
        for w in config["words"]:
            try:
                syn = model.findSynonyms(w, k).withColumn("probe", F.lit(w))
            except Exception:
                continue  # OOV probe
            outs.append(syn)
        if not outs:
            return spark.createDataFrame([], "probe string, word string, similarity double")
        from functools import reduce

        return reduce(lambda a, b: a.unionByName(b), outs).select(
            "probe", "word", "similarity"
        )

    return transform


def _rhetorics_resources(config: dict):
    from ..ml.rhetorics_model import Resources

    kw = {}
    for key in ("conjunction_tags", "conjunction_words", "determiner_tags"):
        if key in config:
            kw[key] = list(config[key])
    return Resources(**kw)


@operator("rhetorics")
def rhetorics_op(config: dict):
    """RhetoricsProcessor (nlp/processors/RhetoricsProcessor.scala +
    models/Rhetorics.scala): per-row counts of the ten rhetorical figures
    from tokens + POS tags, as map<string,int>. Branchy per-message list
    logic -> Arrow pandas UDF; language resources override via
    conjunction_tags/conjunction_words/determiner_tags. config:
    {tokens_field, pos_field, result, ...resources}."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from ..ml.rhetorics_model import rhetorics_find

    res = _rhetorics_resources(config)
    tokens_field = config.get("tokens_field", "tokens")
    pos_field = config.get("pos_field", "tags")
    result = config.get("result", "rhetorics")

    def _find(toks, tags):
        return pd.Series(
            [
                rhetorics_find(
                    list(t) if t is not None else [],
                    list(g) if g is not None else [],
                    res,
                )
                for t, g in zip(toks, tags)
            ]
        )

    _find.__annotations__ = {
        "toks": pd.Series, "tags": pd.Series, "return": pd.Series,
    }
    udf = pandas_udf("map<string,int>")(_find)

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(result, udf(F.col(tokens_field), F.col(pos_field)))

    return transform


@operator("persuasion")
def persuasion_op(config: dict):
    """PersuasionProcessor (nlp/processors/PersuasionProcessor.scala):
    per-row persuasion score — the reference's published linear model
    over clamped emotion axes + rhetoric counts, summed over engagement
    types. ``emotions_field`` may hold a map<string,double> of the four
    axes (RBEM shape) or a single emotion string (fastText shape).
    config: {tokens_field, pos_field, emotions_field, type_weights,
    result, ...resources}."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from ..ml.rhetorics_model import persuasion_score

    res = _rhetorics_resources(config)
    tokens_field = config.get("tokens_field", "tokens")
    pos_field = config.get("pos_field", "tags")
    emotions_field = config.get("emotions_field", "emotions")
    type_weights = config.get("type_weights")
    result = config.get("result", "persuasion")

    def _score(toks, tags, emos):
        return pd.Series(
            [
                persuasion_score(
                    list(t) if t is not None else [],
                    list(g) if g is not None else [],
                    e if e is not None else {},
                    type_weights,
                    res,
                )
                for t, g, e in zip(toks, tags, emos)
            ]
        )

    _score.__annotations__ = {
        "toks": pd.Series, "tags": pd.Series, "emos": pd.Series,
        "return": pd.Series,
    }
    udf = pandas_udf("double")(_score)

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(
            result,
            udf(F.col(tokens_field), F.col(pos_field), F.col(emotions_field)),
        )

    return transform




def _classify_transform(config: dict, embedder):
    """Shared scoring-head plumbing for image/audio/video classify ops:
    centroids/top_n/categories wiring + flatten-to-top-1 (F.get, not [0]:
    an empty labels array from null media must yield NULL, not an ANSI
    array-index error)."""
    from pyspark.sql import functions as F

    from ..ml.deeplearn import classify_images

    result = config.get("result", "labels")

    def transform(df: DataFrame) -> DataFrame:
        out = classify_images(
            df,
            media_col=config.get("field", "media"),
            centroids=dict(config["centroids"]),
            top_n=int(config.get("top_n", 3)),
            embedder=embedder,
            categories=config.get("categories"),
            out_col=result,
        )
        if config.get("flatten"):
            out = out.withColumn(result, F.get(result, 0)["label"])
        return out

    return transform


@operator("image_classify")
def image_classify_op(config: dict):
    """InceptionClassifier / VGG16Classifier (deeplearn/processors/image/
    *.scala): per-row image -> top-n (label, score) pairs, optional
    flatten-to-top-1 and label->category coarsening. The CNN itself is
    the ``embedder`` seam (no TF/Torch in this container): model
    'inceptionv3'/'vgg16' requires an injected config['embedder']
    callable (bytes -> list[float]) wrapping the real forward pass;
    model 'cnn' runs the bundled REAL from-scratch convolutional
    embedder (ml/cnn.py: im2col convs + pooling + dense over the stdlib
    codec decode; deterministic He weights, config['weights'] loads a
    trained .npz); model 'stub' (default) uses the deterministic
    byte-sample feature so the distributed scoring head stays testable.
    config: {field, centroids: {label: vec}, model, top_n, flatten,
    categories, embedder, weights, result}."""
    from pyspark.sql import functions as F

    from ..ml.deeplearn import classify_images

    model = config.get("model", "stub")
    embedder = config.get("embedder")
    if model == "cnn" and embedder is None:
        from ..ml.cnn import TinyConvNet, cnn_embed_bytes, default_net

        net = (
            TinyConvNet.load_weights(config["weights"])
            if config.get("weights")
            else default_net()
        )
        embedder = lambda data: cnn_embed_bytes(data, net)  # noqa: E731
    if model in ("inceptionv3", "vgg16") and embedder is None:
        raise NotImplementedError(
            f"model {model!r} needs pretrained weights (TF/Torch not in "
            "this environment); inject config['embedder'] wrapping the "
            "real forward pass, or use model='stub'"
        )
    if model not in ("stub", "cnn", "inceptionv3", "vgg16"):
        raise ValueError(f"unknown image model {model!r}")
    return _classify_transform(config, embedder)


@operator("location_detect")
def location_detect_op(config: dict):
    """LocationDetectionProcessor (nlp/processors/
    LocationDetectionProcessor.scala:22-180): token-window gazetteer
    matching -> array<struct<name,lat,lon>> per row. Gazetteers load from
    the geonames cities TSV (``city_file``) and/or countries.json
    (``country_file``), union'd and broadcast; optional ``centers``
    [[lat, lon, radius], ...] restricts matches. config: {field,
    city_file, country_file, max_window, centers, result}."""
    from ..ml.location import (
        detect_locations,
        load_city_gazetteer,
        load_country_gazetteer,
    )

    def transform(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        parts = []
        if config.get("city_file"):
            parts.append(load_city_gazetteer(spark, config["city_file"]))
        if config.get("country_file"):
            parts.append(load_country_gazetteer(spark, config["country_file"]))
        if not parts:
            raise ValueError("location_detect needs city_file and/or country_file")
        gaz = parts[0]
        for p in parts[1:]:
            gaz = gaz.unionByName(p)
        return detect_locations(
            df,
            tokens_col=config.get("field", "tokens"),
            gazetteer=gaz,
            max_window=int(config.get("max_window", 3)),
            centers=[tuple(c) for c in config.get("centers", [])] or None,
            out_col=config.get("result", "locations"),
        )

    return transform


@operator("url_parse")
def url_parse_op(config: dict):
    """URLParserProcessor (web analytics module): decompose a URL column
    into protocol/host/path/query via Spark's native parse_url.
    config: {field, parts, prefix}."""
    from pyspark.sql import functions as F

    field = config.get("field", "url")
    prefix = config.get("prefix", "")
    parts = config.get("parts", ["PROTOCOL", "HOST", "PATH", "QUERY"])

    def transform(df: DataFrame) -> DataFrame:
        out = df
        for p in parts:
            out = out.withColumn(
                f"{prefix}{p.lower()}", F.parse_url(F.col(field), F.lit(p))
            )
        return out

    return transform


@operator("fasttext_similar_words")
def fasttext_similar_words_op(config: dict):
    """Nearest vocabulary words to probe words from a natively-loaded
    fastText model (FastTextToWord2Vec / nearest-neighbor surface).
    Input DataFrame is ignored except for its session. config:
    {model_path, probes, k}."""
    from ..ml.fasttext import ft_similar_words

    def transform(df: DataFrame) -> DataFrame:
        return ft_similar_words(
            df.sparkSession,
            config["model_path"],
            list(config["probes"]),
            k=int(config.get("k", 5)),
        )

    return transform


@operator("fasttext_word_overlap_classify")
def fasttext_word_overlap_classify_op(config: dict):
    """Word-by-word cosine overlap classification against candidate word
    sets (FastText.scala simpleWordOverlapClassifier; URBEM seed
    matching). config: {model_path, classes: {label: [words]},
    tokens_field, id_field, cutoff}."""
    from ..ml.fasttext import ft_word_overlap_classify

    def transform(df: DataFrame) -> DataFrame:
        return ft_word_overlap_classify(
            df,
            config["model_path"],
            dict(config["classes"]),
            tokens_col=config.get("tokens_field", "tokens"),
            id_col=config.get("id_field", "doc_id"),
            cutoff=float(config.get("cutoff", 0.225)),
        )

    return transform


@operator("audio_classify")
def audio_classify_op(config: dict):
    """Audio clip -> top-n (label, score) via the SAME distributed scoring
    head as image_classify (ml/deeplearn.classify_images is
    embedder-generic): the bundled embedder is the real energy+ZCR front
    end over the stdlib PCM/G.711 decode (ml/cnn.audio_embed_bytes);
    inject config['embedder'] to wrap a learned acoustic model, or set
    config['weights'] to a DenseHead .npz (scripts/
    train_audio_head_weights.py) to score TRAINED logits over the front
    end — the audio analogue of image_classify's model='cnn' + weights.
    config: {field, centroids, top_n, flatten, categories, embedder,
    weights, result}."""
    from ..ml.cnn import audio_embed_bytes, audio_head_embedder

    embedder = config.get("embedder")
    if embedder is None and config.get("weights"):
        embedder = audio_head_embedder(config["weights"])
    return _classify_transform(config, embedder or audio_embed_bytes)


@operator("video_classify")
def video_classify_op(config: dict):
    """Video clip -> top-n (label, score): REAL container decode (AVI
    DIB/MJPEG, MP4 sample tables), per-frame CNN embedding, temporal mean
    pool (ml/cnn.video_embed_bytes), shared cosine scoring head. Set
    config['weights'] to a DenseHead .npz (scripts/
    train_video_head_weights.py) to score TRAINED logits over the
    mean-pooled embedding — the video analogue of audio_classify's
    weights seam. config: {field, centroids, top_n, flatten, categories,
    max_frames, embedder, weights, result}."""
    from ..ml.cnn import video_embed_bytes, video_head_embedder

    max_frames = int(config.get("max_frames", 16))
    embedder = config.get("embedder")
    if embedder is None and config.get("weights"):
        embedder = video_head_embedder(config["weights"], max_frames)
    embedder = embedder or (
        lambda data: video_embed_bytes(data, max_frames=max_frames)
    )
    return _classify_transform(config, embedder)
