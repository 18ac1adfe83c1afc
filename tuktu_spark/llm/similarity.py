"""Similarity search over embedding columns (array<float>).

Float math is done as explicit left folds over double-cast elements so the
result is bit-identical across engines and across runs (Spark F.aggregate
== DuckDB list_reduce, both sequential) — which also makes top-k ordering
deterministic given the id tiebreak.

Scale path: brute-force top-k is O(Q*N) dot products — fine when the query
set is small and broadcastable. For N large, ivf_bucketed_topk quantizes
vectors into sign-prefix buckets (a cheap LSH) so each query only scans its
bucket: the join key is the bucket id, turning ANN into an equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..tables import persist


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b):
    """Deterministic left-fold dot product of two double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_sq(a):
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)


def cosine(a, b):
    return dot(a, b) / (F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b)))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    The query side is broadcast (small by contract); candidates never
    shuffle — only the per-query top-k reduction does.
    """
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("nv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        v.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("nv")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def sign_bucket(vec, bits: int = 8):
    """Coarse quantizer: sign pattern of the first ``bits`` dimensions —
    a random-hyperplane LSH with axis-aligned planes."""
    idx = F.sequence(F.lit(1), F.lit(bits))
    return F.aggregate(
        idx,
        F.lit(0),
        lambda acc, i: acc * 2
        + F.when(F.element_at(vec, i) >= 0, 1).otherwise(0),
    )


def ivf_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    At scale the vector table is pre-partitioned (or bucketed) by bucket id,
    so a query touches one partition — the IVF inverted-list pattern as an
    equi-join."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn("bucket", sign_bucket(F.col("nv"), bits))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("bucket", sign_bucket(F.col("qv"), bits))
    scored = (
        v.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def probe_buckets(vec, bits: int = 8, n_probe: int = 4):
    """Multi-probe bucket list (Lv et al. 2007 multi-probe LSH, public
    literature): the home sign-bucket plus single-bit flips of the
    n_probe-1 LOWEST-|margin| dimensions — the planes the vector sits
    closest to, hence the buckets its near neighbors most likely landed
    in. Deterministic: ties in |margin| break toward the lower dim."""
    home = sign_bucket(vec, bits)
    order = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: F.struct(
                F.abs(F.element_at(vec, i)).alias("a"), i.alias("i")
            ),
        )
    )
    masks = F.array(*[F.lit(1 << (bits - i)) for i in range(1, bits + 1)])
    flips = F.transform(
        F.slice(order, 1, n_probe - 1),
        lambda s: home.bitwiseXOR(F.element_at(masks, s["i"])),
    )
    return F.concat(F.array(home), flips)


def ivf_multiprobe_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with multi-probe: each query fans out to
    ``n_probe`` buckets (home + lowest-margin bit flips) while the vector
    table keeps ONE bucket per vector — recall approaches brute force as
    n_probe grows, at n_probe x the candidate cost and zero extra cost on
    the (large) corpus side. A neighbor can match at most one probe (a
    vector lives in exactly one bucket), so no candidate dedup is
    needed."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn("bucket", sign_bucket(F.col("nv"), bits))
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("bucket", F.explode(probe_buckets(F.col("qv"), bits, n_probe)))
    )
    scored = (
        v.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def train_ivf_centroids(
    vectors: DataFrame,
    nlist: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
) -> list[list[float]]:
    """Coarse quantizer for k-means IVF (the FAISS IVF-flat layout, public
    literature): nlist centroids trained with pyspark.ml KMeans. The
    centroid table is nlist x dim floats — kilobytes; train on a sample
    at 100 TB scale, the index quality barely depends on sample size."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = vectors.select(
        array_to_vector(_as_double(F.col(vec_col))).alias("features")
    )
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter).fit(feats)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _nearest_centroids(vec, centroids: list[list[float]], n_probe: int):
    """Indices (1-based) of the n_probe nearest centroids by squared L2 —
    pure column algebra over a literal centroid array."""
    cents = F.array(
        *[F.array(*[F.lit(x) for x in c]) for c in centroids]
    )
    dists = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    vec, F.element_at(cents, i), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("i"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(dists), 1, n_probe), lambda s: s["i"]
    )


def ivf_kmeans_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means IVF top-k: vectors are assigned to their nearest centroid's
    inverted list (one narrow map over the corpus), queries probe their
    ``n_probe`` nearest lists. The join is an equi-join on list id with
    the query side broadcast — the corpus shuffles once by list at index
    build time and never again. Recall rises with n_probe (n_probe =
    nlist is exact brute force)."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn(
        "list_id", F.element_at(_nearest_centroids(F.col("nv"), centroids, 1), 1)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn(
        "list_id",
        F.explode(_nearest_centroids(F.col("qv"), centroids, n_probe)),
    )
    scored = (
        v.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def embedding_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b), bucketed by the
    sign quantizer first (near-identical vectors share the sign pattern)."""
    # Each side is projected independently from the source with its own
    # column names: Spark's lambda-variable resolution (higher-order
    # functions) breaks on alias-qualified self-joins over a shared
    # intermediate projection (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND).
    def _side(suffix: str) -> DataFrame:
        vv = _as_double(F.col(vec_col))
        return vectors.select(
            F.col(id_col).alias(f"id_{suffix}"),
            vv.alias(f"v{suffix}"),
            sign_bucket(vv, bits).alias(f"b{suffix}"),
        )

    a, b = _side("a"), _side("b")
    return (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cosine", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def quantize_embedding(vec, bits: int = 8):
    """Per-vector symmetric scalar quantization to signed ints: codes =
    round(x / scale) with scale = max|x| / (2^(bits-1) - 1). Returns a
    struct(codes array<int>, scale double) — at 100 TB this is the 4x
    storage/shuffle reduction that makes embedding joins tractable, and
    symmetric (zero-point-free) quantization keeps dot products a plain
    integer accumulate * scale_a * scale_b.

    Engine-portable: max is exact, division/round are IEEE-deterministic,
    so codes are bit-identical across engines (oracled in the driver)."""
    v = F.transform(vec, lambda x: x.cast("double"))
    qmax = float((1 << (bits - 1)) - 1)
    absmax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x))
    )
    scale = F.when(absmax == 0.0, F.lit(1.0)).otherwise(absmax / F.lit(qmax))
    codes = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    return F.struct(codes.alias("codes"), scale.alias("scale"))


def dequantize_embedding(q):
    """Inverse of quantize_embedding (lossy)."""
    return F.transform(q["codes"], lambda c: c.cast("double") * q["scale"])


def quantized_cosine(qa, qb):
    """Cosine from quantized codes: integer dot / sqrt(int norms) — the
    scales cancel. Integer accumulates are exact; one sqrt+div at the end."""
    d = F.zip_with(qa["codes"], qb["codes"], lambda a, b: (a * b).cast("long"))
    dot_i = F.aggregate(d, F.lit(0).cast("long"), lambda acc, x: acc + x)
    na = F.aggregate(
        F.transform(qa["codes"], lambda a: (a * a).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nb = F.aggregate(
        F.transform(qb["codes"], lambda b: (b * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return dot_i.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))


def quantize_table(
    df: DataFrame, vec_col: str = "embedding", bits: int = 8
) -> DataFrame:
    """Replace ``vec_col`` with its quantized form (codes + scale)."""
    return df.withColumn(vec_col, quantize_embedding(F.col(vec_col), bits))


# --- product quantization (FAISS PQ/ADC layout; Jégou et al. 2011,
# public literature) ---------------------------------------------------------


def train_pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Train ``m`` per-subspace codebooks of ``k`` centroids each (the
    classic product quantizer): split the dimension into m contiguous
    subvectors, run KMeans per subspace. The model is m*k*(D/m) floats —
    kilobytes, driver/broadcast-sized regardless of corpus size; at
    100 TB train on a sample (codebook quality saturates quickly)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(vectors.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    books = []
    v = _as_double(F.col(vec_col))
    for j in range(m):
        sub = vectors.select(
            array_to_vector(F.slice(v, j * d_sub + 1, d_sub)).alias("features")
        )
        model = KMeans(k=k, seed=seed + j, maxIter=max_iter).fit(sub)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode each vector to ``m`` small codes (nearest centroid per
    subspace) — 4-8 bits/subspace vs 32 bits/dim raw: the 16-64x
    shuffle/storage compression that makes billion-vector ANN feasible.
    Arrow-vectorized: per batch one (n x k) distance matrix per subspace."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    d_sub = books[0].shape[1]

    def enc(vecs: pd.Series) -> pd.Series:
        arrs = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        codes = np.empty((len(arrs), len(books)), dtype=np.int32)
        for j, cb in enumerate(books):
            sub = arrs[:, j * d_sub : (j + 1) * d_sub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin drops ||x||^2
            d2 = -2.0 * sub @ cb.T + (cb * cb).sum(axis=1)[None, :]
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes.tolist()))

    enc.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    u = pandas_udf("array<int>")(enc)
    return df.withColumn(out_col, u(_as_double(F.col(vec_col))))


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """Asymmetric-distance top-k: each query precomputes an (m x k_c)
    lookup table of exact subspace distances to every centroid; corpus
    rows are scored by m TABLE LOOKUPS over their codes — no
    full-dimension math per candidate, the PQ trick that scans billions
    of codes cheaply. Queries are collected driver-side (query batches
    are small by definition) and the tables broadcast; the corpus is
    never reshuffled."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    d_sub = books[0].shape[1]
    qrows = queries.select(id_col, _as_double(F.col(vec_col)).alias("__v")).collect()
    tables = {}
    for r in qrows:
        qv = np.asarray(r["__v"], dtype=np.float64)
        t = np.stack(
            [
                ((books[j] - qv[j * d_sub : (j + 1) * d_sub][None, :]) ** 2).sum(axis=1)
                for j in range(len(books))
            ]
        )
        tables[int(r[id_col])] = t
    spark = corpus.sparkSession
    b_tables = spark.sparkContext.broadcast(tables)

    def score(codes: pd.Series) -> pd.Series:
        tabs = b_tables.value
        arr = np.stack([np.asarray(c, dtype=np.int64) for c in codes])
        m = arr.shape[1]
        rows = []
        js = np.arange(m)
        for i in range(arr.shape[0]):
            rows.append(
                [float(t[js, arr[i]].sum()) for t in tabs.values()]
            )
        return pd.Series(rows)

    score.__annotations__ = {"codes": pd.Series, "return": pd.Series}
    u = pandas_udf("array<double>")(score)
    qids = list(tables.keys())
    scored = corpus.select(
        F.col(id_col).alias("neighbor_id"), u(F.col(codes_col)).alias("__d")
    ).select(
        "neighbor_id",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qids]).alias("query_id"),
                F.col("__d").alias("adc"),
            )
        ).alias("z"),
    ).select(
        F.col("z.query_id").cast("long").alias("query_id"),
        "neighbor_id",
        F.col("z.adc").alias("adc"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "adc")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
) -> DataFrame:
    """The standard two-stage PQ search: ADC over compressed codes
    produces a ``shortlist`` of candidates per query (cheap scan of the
    whole corpus), then EXACT cosine re-ranks only those candidates —
    full-precision math touches shortlist*queries rows, never the
    corpus. The re-rank join pulls candidate vectors by id (corpus-side
    partitioning reusable; candidates are broadcast-sized)."""
    short = pq_adc_topk(
        corpus, queries, codebooks, k=shortlist,
        id_col=id_col, vec_col=vec_col, codes_col=codes_col,
    )
    from pyspark.sql import Window

    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__nv"),
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    cand = short.select("query_id", "neighbor_id").join(vecs, "neighbor_id").join(
        F.broadcast(qvecs), "query_id"
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine(F.col("__qv"), F.col("__nv")).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


def write_ivf_index(
    vectors: DataFrame,
    table: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF inverted lists as a managed table BUCKETED by
    list_id — the write-once/query-many half of the FAISS IVF layout
    (mirrors dedup.write_shingle_index). Index build is the only corpus
    pass: one narrow centroid-assignment map + the bucketed write."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn(
        "list_id", F.element_at(_nearest_centroids(F.col("nv"), centroids, 1), 1)
    )
    (
        v.write.mode(mode)
        .bucketBy(buckets, "list_id")
        .sortBy("list_id")
        .format("parquet")
        .saveAsTable(table)
    )


def load_ivf_centroids(spark, table: str) -> list[list[float]]:
    """Load the centroid table persisted next to an IVF index
    (``{table}_centroids``), in centroid_id order."""
    return [
        [float(x) for x in r["centroid"]]
        for r in spark.table(f"{table}_centroids").orderBy("centroid_id").collect()
    ]


def append_ivf_index(
    vectors: DataFrame,
    table: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: int = 16,
) -> None:
    """Incrementally add a batch to an EXISTING IVF index: new vectors are
    assigned to the index's persisted centroids (no retraining, no
    rewrite of prior lists) and appended into the same list_id-bucketed
    layout — the batch-vs-corpus shape of dedup_incremental_batch applied
    to ANN. The only corpus-side work is the append itself; probes keep
    bucket pruning because the bucket spec is unchanged. Equivalent by
    construction to rewriting the full index with the SAME centroids
    (pinned in the driver query)."""
    spark = vectors.sparkSession
    centroids = load_ivf_centroids(spark, table)
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn(
        "list_id", F.element_at(_nearest_centroids(F.col("nv"), centroids, 1), 1)
    )
    (
        v.write.mode("append")
        .bucketBy(buckets, "list_id")
        .sortBy("list_id")
        .format("parquet")
        .saveAsTable(table)
    )


def ivf_topk_from_index(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means IVF top-k over a prebuilt bucketed index
    (``write_ivf_index``): queries probe their n_probe nearest lists and
    the scan reads ONLY those lists' buckets (Spark bucket pruning on the
    ``list_id IN (...)`` filter — the probe set is collected from the
    query side, which is driver-small by definition). No centroid
    re-assignment, no raw-corpus re-scan; identical output to
    ``ivf_kmeans_topk`` (pinned in tests)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn(
        "list_id",
        F.explode(_nearest_centroids(F.col("qv"), centroids, n_probe)),
    )
    probe_lists = sorted(
        {r["list_id"] for r in q.select("list_id").distinct().collect()}
    )
    v = spark.table(table).where(F.col("list_id").isin(probe_lists))
    scored = (
        v.join(F.broadcast(q), "list_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", cosine(F.col("qv"), F.col("nv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semdedup(
    vectors: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper):
    SEMANTIC dedup scoped to k-means clusters. Each vector joins its
    nearest centroid (squared L2, ties to the lower index — the paper's
    k-means assignment); within a cluster two vectors are semantic
    duplicates when cosine >= 1 - eps. Of any duplicate pair the vector
    kept is the one LEAST similar to its centroid (the paper's
    best-performing keep rule — cluster-edge examples preserve
    diversity), tie-break on smaller id; a vector is dropped when ANY
    in-cluster near-duplicate beats it under that order (the greedy
    removal's deterministic closure). Returns
    (id, cluster_id, cent_sim, keep).

    Scale shape: the O(nlist x dim) centroid-assignment fold and
    cent_sim run ONCE over the corpus — the assignment table
    (id, v, cluster, cent_sim) is persisted (tables.persist, held
    until the next run_flow or query build) and both self-join sides
    plus the output read it; the corpus shuffles ONCE on cluster_id for
    the self-join; pair work is quadratic only within a cluster and the
    paper scales nlist with the corpus (50k clusters for LAION) so
    cluster sizes stay bounded; centroids travel as plan literals
    (kilobytes). Engine-portable: assignment distance, cent_sim, and
    pair cosines are sequential folds — bit-identical in the DuckDB
    oracle."""
    vv = _as_double(F.col(vec_col))
    cents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    base = persist(
        vectors.select(
            F.col(id_col).alias("__sid"),
            vv.alias("__sv"),
            F.element_at(_nearest_centroids(vv, centroids, 1), 1).alias("__scl"),
        ).withColumn(
            "__scs", cosine(F.col("__sv"), F.element_at(cents, F.col("__scl")))
        )
    )

    def side(suffix: str) -> DataFrame:
        # plain column renames over the SHARED persisted projection (the
        # alias-qualified-join HOF bug hits df.alias() joins, not
        # select-renamed sides; pinned by tests)
        return base.select(
            F.col("__sid").alias(f"id_{suffix}"),
            F.col("__sv").alias(f"v{suffix}"),
            F.col("__scl").alias(f"cl{suffix}"),
            F.col("__scs").alias(f"cs{suffix}"),
        )

    a, b = side("a"), side("b")
    thr = 1.0 - float(eps)
    beaten = (
        a.join(
            b,
            (F.col("cla") == F.col("clb")) & (F.col("id_a") != F.col("id_b")),
        )
        .filter(cosine(F.col("va"), F.col("vb")) >= thr)
        .filter(
            (F.col("csb") < F.col("csa"))
            | ((F.col("csb") == F.col("csa")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias("__dropped"))
        .distinct()
    )
    keep_side = side("k")
    return (
        keep_side.join(
            beaten, keep_side["id_k"] == beaten["__dropped"], "left"
        )
        .select(
            F.col("id_k").alias(id_col),
            F.col("clk").cast("int").alias("cluster_id"),
            F.col("csk").alias("cent_sim"),
            F.col("__dropped").isNull().alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the billion-scale composite (FAISS IVFPQ layout, public
# literature — Jégou et al. 2011 "Product Quantization for Nearest
# Neighbor Search"): coarse inverted lists prune the corpus to n_probe
# lists, PQ codes of the RESIDUAL (v - centroid) make the in-list scan a
# table-lookup over bytes, exact re-rank touches only the shortlist.
# ---------------------------------------------------------------------------


def _centroid_array(centroids: list[list[float]]):
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])


def ivfpq_assign_encode(
    vectors: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(neighbor_id, nv, list_id, pq_codes): coarse-assign each vector and
    PQ-encode its residual v - centroid[list]. One narrow corpus map (the
    assignment fold is column algebra; encoding is one Arrow batch
    stage); no shuffle."""
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn(
        "list_id", F.element_at(_nearest_centroids(F.col("nv"), centroids, 1), 1)
    )
    resid = F.zip_with(
        F.col("nv"),
        F.element_at(_centroid_array(centroids), F.col("list_id")),
        lambda a, b: a - b,
    )
    v = v.withColumn("__resid", resid)
    return pq_encode(v, codebooks, vec_col="__resid", out_col="pq_codes").drop(
        "__resid"
    )


def train_ivfpq(
    vectors: DataFrame,
    nlist: int = 16,
    m: int = 8,
    k_codes: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train the coarse quantizer, then the PQ codebooks ON THE RESIDUALS
    (the IVFPQ detail that matters: residuals are centered near zero, so
    the codebooks spend their k_codes entries on in-list variation).
    Model size = nlist*D + m*k_codes*(D/m) floats — broadcast-sized at
    any corpus scale; train on a sample at 100 TB."""
    cents = train_ivf_centroids(vectors, nlist=nlist, vec_col=vec_col, seed=seed)
    v = vectors.select(_as_double(F.col(vec_col)).alias("nv")).withColumn(
        "list_id", F.element_at(_nearest_centroids(F.col("nv"), cents, 1), 1)
    )
    resid = v.select(
        F.zip_with(
            F.col("nv"),
            F.element_at(_centroid_array(cents), F.col("list_id")),
            lambda a, b: a - b,
        ).alias("resid")
    )
    books = train_pq_codebooks(resid, m=m, k=k_codes, vec_col="resid", seed=seed)
    return cents, books


def write_ivfpq_index(
    vectors: DataFrame,
    table: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize the IVFPQ index as a managed table BUCKETED by list_id
    (same write-once/query-many layout as write_ivf_index); rows carry
    (id, list_id, pq_codes, nv) — nv kept for the exact re-rank stage
    (drop it and re-rank from the source table if storage dominates)."""
    enc = ivfpq_assign_encode(vectors, centroids, codebooks, id_col, vec_col)
    (
        enc.write.mode(mode)
        .bucketBy(buckets, "list_id")
        .sortBy("list_id")
        .format("parquet")
        .saveAsTable(table)
    )


def _ivfpq_score_encoded(
    encoded: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Core IVFPQ search over an encoded relation: probe n_probe lists per
    query, ADC-score their codes with per-(query, list) residual lookup
    tables (m lookups per candidate — never full-dimension math), take a
    ``shortlist`` by approximate distance, exact-cosine re-rank the
    shortlist only. Queries are collected (query batches are bounded by
    definition) and the tables broadcast; the corpus-side scan touches
    only probed lists."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    d_sub = books[0].shape[1]
    m = len(books)
    C = np.asarray(centroids, dtype=np.float64)
    spark = encoded.sparkSession
    qrows = queries.select(
        F.col(id_col).alias("qid"), _as_double(F.col(vec_col)).alias("__v")
    ).collect()
    probe_map: dict[int, dict[int, np.ndarray]] = {}
    for r in qrows:
        qv = np.asarray(r["__v"], dtype=np.float64)
        d2 = ((C - qv[None, :]) ** 2).sum(axis=1)
        lists = np.argsort(d2, kind="stable")[:n_probe] + 1  # 1-based ids
        tabs = {}
        for li in lists:
            rq = qv - C[li - 1]
            tabs[int(li)] = np.stack(
                [
                    ((books[j] - rq[j * d_sub : (j + 1) * d_sub][None, :]) ** 2).sum(
                        axis=1
                    )
                    for j in range(m)
                ]
            )
        probe_map[int(r["qid"])] = tabs
    bc = spark.sparkContext.broadcast(probe_map)
    all_lists = sorted({li for tabs in probe_map.values() for li in tabs})

    # bucket-prunable IN filter (SelectedBucketsCount when encoded is the
    # bucketed index table)
    scan = encoded.filter(F.col("list_id").isin([int(x) for x in all_lists]))

    def score(it):
        pm = bc.value
        js = np.arange(m)
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["pq_codes"]])
            lst = pdf["list_id"].to_numpy()
            nid = pdf["neighbor_id"].to_numpy()
            out_q, out_n, out_d = [], [], []
            for qid, tabs in pm.items():
                for li, t in tabs.items():
                    rows = np.nonzero(lst == li)[0]
                    if not len(rows):
                        continue
                    # (m,) lookups per candidate, summed: t[j, code_j]
                    adc = t[js[:, None], codes[rows].T].sum(axis=0)
                    out_q.append(np.full(len(rows), qid, dtype=np.int64))
                    out_n.append(nid[rows])
                    out_d.append(adc)
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_n),
                        "adc": np.concatenate(out_d),
                    }
                )

    cand = scan.select("neighbor_id", "list_id", "pq_codes").mapInPandas(
        score, "query_id long, neighbor_id long, adc double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("neighbor_id"))
    short = (
        cand.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= int(shortlist))
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: shortlist*queries rows — broadcast against the index
    vecs = encoded.select("neighbor_id", "nv")
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("__qv")
    )
    scored = (
        vecs.join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("nv")).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= int(k))
        .select(
            "query_id", "neighbor_id", F.col("rank").cast("int").alias("rank"),
            "cosine",
        )
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Direct (no materialized index) IVFPQ top-k: encode in the same
    plan, then the probe/ADC/re-rank core."""
    enc = ivfpq_assign_encode(vectors, centroids, codebooks, id_col, vec_col)
    return _ivfpq_score_encoded(
        enc, queries, centroids, codebooks, k, n_probe, shortlist, id_col, vec_col
    )


def ivfpq_topk_from_index(
    spark,
    table: str,
    queries: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFPQ top-k over a prebuilt index table (write_ivfpq_index): the
    probe-set IN filter prunes to the probed lists' BUCKETS."""
    return _ivfpq_score_encoded(
        spark.table(table), queries, centroids, codebooks,
        k, n_probe, shortlist, id_col, vec_col,
    )


def append_ivfpq_index(
    vectors: DataFrame,
    table: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: int = 16,
) -> None:
    """Incrementally add a batch to an EXISTING IVFPQ index: the new
    vectors are assigned and residual-encoded against the index's FROZEN
    centroids and codebooks (no retraining, prior lists untouched) and
    appended into the same bucketed layout — batch-vs-corpus, the same
    shape as append_ivf_index. Equivalent by construction to rewriting
    the full index with the same model (test-pinned)."""
    enc = ivfpq_assign_encode(vectors, centroids, codebooks, id_col, vec_col)
    (
        enc.write.mode("append")
        .bucketBy(buckets, "list_id")
        .sortBy("list_id")
        .format("parquet")
        .saveAsTable(table)
    )


def load_ivfpq_model(
    spark, table: str
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Load the frozen (centroids, codebooks) persisted next to an IVFPQ
    index by the ivfpq_index_write operator."""
    cents = load_ivf_centroids(spark, table)
    rows = spark.table(f"{table}_codebooks").orderBy("subspace", "code").collect()
    n_sub = max(r["subspace"] for r in rows) + 1
    books = [
        [[float(x) for x in r["centroid"]] for r in rows if r["subspace"] == j]
        for j in range(n_sub)
    ]
    return cents, books
