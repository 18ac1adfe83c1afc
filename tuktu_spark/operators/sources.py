"""Source operators — Tuktu generators (SURVEY.md §2.1) as DataFrame
builders. Connector-backed sources (jdbc/kafka/...) are thin config
wrappers over Spark's own readers, gated on availability."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import listing_signature, memo_put, schema_memo_of
from .registry import flag, source

# Session confs that change the schema Spark infers, per format.
_FILE_INFERENCE_CONFS = (
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.session.timeZone",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)
_TEXT_INFERENCE_CONFS = (
    "spark.sql.columnNameOfCorruptRecord",
    "spark.sql.legacy.timeParserPolicy",
)
_INFERENCE_CONFS = {
    "parquet": _FILE_INFERENCE_CONFS + (
        "spark.sql.parquet.binaryAsString",
        "spark.sql.parquet.int96AsTimestamp",
        "spark.sql.parquet.mergeSchema",
        "spark.sql.parquet.respectSummaryFiles",
        "spark.sql.parquet.inferTimestampNTZ.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
    ),
    "orc": _FILE_INFERENCE_CONFS + ("spark.sql.orc.mergeSchema", "spark.sql.orc.impl"),
    "json": _FILE_INFERENCE_CONFS + _TEXT_INFERENCE_CONFS,
    "csv": _FILE_INFERENCE_CONFS + _TEXT_INFERENCE_CONFS,
}


def read_inferred(
    spark: SparkSession, fmt: str, path: str, options: dict | None = None
) -> DataFrame:
    """``spark.read.options(**options).format(fmt).load(path)``, with the
    schema inference job run only once per unchanged input.

    The first read infers the schema as Spark always does and keeps it on
    the session. A later read reuses it (``reader.schema``) when the
    format, path, options, the session confs that steer ``fmt``'s
    inference and the file listing (``tables.listing_signature``) are all
    unchanged. Spark still lists the files on every read, so the data is
    current; only the inference job is skipped. Globs, non-local paths,
    missing paths and files modified in the last 2 s are inferred every
    time."""
    options = options or {}
    reader = spark.read.options(**options).format(fmt)
    signature = listing_signature(spark, path)
    if signature is None:
        return reader.load(path)
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS[fmt])
    key = (fmt, path, tuple(sorted(options.items())), confs)
    memo = schema_memo_of(spark)
    entry = memo.get(key)
    if entry is not None and entry[0] == signature:
        return reader.schema(entry[1]).load(path)
    df = reader.load(path)
    memo_put(memo, key, (signature, df.schema))
    return df


@source("parquet")
def parquet(spark: SparkSession, config: dict) -> DataFrame:
    """Parquet file/directory source (predicate pushdown + column pruning).
    Its schema is inferred once per unchanged input and session
    (FLOWSPEC.md "Schema reuse")."""
    return read_inferred(spark, "parquet", config["path"])


@source("csv")
def csv(spark: SparkSession, config: dict) -> DataFrame:
    """CSVGenerator (csv/generators/CsvGenerator.scala:111-218): headers
    present/predefined, separator/quote/escape, error tolerance. `header`
    and `infer_schema` take true/false (bool or string). Without an
    explicit `schema`, the inferred one is reused while the input is
    unchanged (FLOWSPEC.md "Schema reuse")."""
    options = {
        "header": flag(config, "header", True),
        "sep": config.get("separator", ","),
        "quote": config.get("quote", '"'),
        "escape": config.get("escape", "\\"),
        "mode": config.get("mode", "PERMISSIVE"),  # error tolerance (:198)
        "inferSchema": flag(config, "infer_schema", True),
    }
    schema = config.get("schema")
    if schema:
        df = spark.read.options(**options).schema(schema).csv(config["path"])
    else:
        df = read_inferred(spark, "csv", config["path"], options)
    headers = config.get("headers")  # predefined header names
    if headers:
        df = df.toDF(*headers)
    return df


@source("json")
def json(spark: SparkSession, config: dict) -> DataFrame:
    """JSON-lines source with schema inference, run once per unchanged
    input and session (FLOWSPEC.md "Schema reuse")."""
    return read_inferred(spark, "json", config["path"])


@source("line", "text")
def line(spark: SparkSession, config: dict) -> DataFrame:
    """LineGenerator (FileGenerators.scala:79-138): one row per line with
    start/end line bounds."""
    df = spark.read.text(config["path"])
    start = config.get("start_line")
    end = config.get("end_line")
    if start is not None or end is not None:
        # file order = partition order of the text scan; materialize the
        # monotonic id, then number it DISTRIBUTED with the persist-free
        # BOUNDED kernel (no single-partition window even for huge files,
        # and no cache pin): for a pure file scan the splits — and hence
        # the monotonic ids — are deterministic under recompute, so the
        # value-based boundary cuts renumber identically after executor
        # loss (round-7, verdict #4; pinned in tests/test_operators.py)
        from .joins import _global_row_number_bounded

        df = df.withColumn("__mid__", F.monotonically_increasing_id())
        df = _global_row_number_bounded(df, ["__mid__"], "__rn__")
        df = df.withColumn("__line__", F.col("__rn__") - 1).drop("__mid__", "__rn__")
        if start is not None:
            df = df.filter(F.col("__line__") >= int(start))
        if end is not None:
            df = df.filter(F.col("__line__") <= int(end))
        df = df.drop("__line__")
    result = config.get("result")
    if result:
        df = df.withColumnRenamed("value", result)
    return df


@source("binary_file")
def binary_file(spark: SparkSession, config: dict) -> DataFrame:
    """BinaryFileGenerator (FileGenerators.scala:241-278): whole-file binary
    content + metadata (path, length)."""
    return spark.read.format("binaryFile").load(config["path"])


@source("files")
def files(spark: SparkSession, config: dict) -> DataFrame:
    """FilesGenerator (FileGenerators.scala:194-210): recursive listing of
    paths matching a glob."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", config.get("glob", "*"))
        .option("recursiveFileLookup", "true")
        .load(config["path"])
        .select(F.col("path"), F.col("length"))
    )


@source("inline", "list")
def inline(spark: SparkSession, config: dict) -> DataFrame:
    """ListGenerator / CustomPacketGenerator (DummyGenerator.scala:120-192):
    literal rows. config: {"rows": [...], "columns": [...] | "value":
    scalar list + "result": name}."""
    if "rows" in config:
        return spark.createDataFrame(
            [tuple(r) if isinstance(r, (list, tuple)) else (r,) for r in config["rows"]],
            config.get("columns") or [config.get("result", "value")],
        )
    values = config["values"]
    name = config.get("result", "value")
    return spark.createDataFrame([(v,) for v in values], [name])


@source("dummy")
def dummy(spark: SparkSession, config: dict) -> DataFrame:
    """DummyGenerator (DummyGenerator.scala:34-85) batch form: the constant
    message repeated max_amount times."""
    n = int(config.get("max_amount", 1))
    return spark.range(n).select(
        F.lit(config.get("message", "message")).alias(config.get("result", "message"))
    )


@source("random")
def random_source(spark: SparkSession, config: dict) -> DataFrame:
    """RandomGenerator (DummyGenerator.scala:90-115): random int < max."""
    n = int(config.get("amount", 1))
    maximum = int(config["max"])
    seed = config.get("seed")
    rand = F.rand(int(seed)) if seed is not None else F.rand()
    return spark.range(n).select(
        F.floor(rand * maximum).cast("int").alias(config.get("result", "num"))
    )


@source("time_sequence")
def time_sequence(spark: SparkSession, config: dict) -> DataFrame:
    """TimeGenerator (TimeGenerator.scala:26-168): timestamp sequence from
    start to end by interval — sequence() + explode, distributed."""
    start = F.lit(config["start"]).cast("timestamp")
    end = F.lit(config["end"]).cast("timestamp")
    step = F.lit(config.get("interval", "1 day")).cast("interval")
    name = config.get("result", "time")
    return spark.range(1).select(F.explode(F.sequence(start, end, step)).alias(name))


@source("sql_table")
def sql_table(spark: SparkSession, config: dict) -> DataFrame:
    """SQLGenerator (nosql/generators/sql.scala:11-47): JDBC query source.
    Needs a JDBC driver on the classpath; config: url, query|table,
    properties."""
    reader = spark.read.format("jdbc").option("url", config["url"])
    if "query" in config:
        reader = reader.option("query", config["query"])
    else:
        reader = reader.option("dbtable", config["table"])
    for k, v in config.get("properties", {}).items():
        reader = reader.option(k, v)
    return reader.load()


@source("view")
def view(spark: SparkSession, config: dict) -> DataFrame:
    """Read a registered temp view / catalog table."""
    return spark.table(config["name"])


@source("rate_stream", "dummy_stream")
def rate_stream(spark: SparkSession, config: dict) -> DataFrame:
    """DummyGenerator unbounded form (DummyGenerator.scala:62-66): a
    Structured Streaming rate source with optional constant fields — flows
    built on it compile to streaming DataFrames and run via
    flow.run_stream_flow."""
    from ..streaming import rate_source

    return rate_source(
        spark,
        rows_per_second=int(config.get("rows_per_second", 10)),
        constant=config.get("constant"),
    )


@source("orc")
def orc(spark: SparkSession, config: dict) -> DataFrame:
    """ORC file/directory source (predicate pushdown + column pruning,
    same contract as the parquet source — Spark-native reader). Its schema
    is inferred once per unchanged input and session (FLOWSPEC.md "Schema
    reuse")."""
    return read_inferred(spark, "orc", config["path"])


@source("avro")
def avro(spark: SparkSession, config: dict) -> DataFrame:
    """Avro source via Spark's external spark-avro module. Gated: the
    jar isn't bundled with pyspark, so a missing format errors with a
    remediation message instead of a raw AnalysisException."""
    try:
        return spark.read.format("avro").load(config["path"])
    except Exception as e:  # noqa: BLE001 - jvm exception types vary
        if "avro" in str(e).lower():
            raise NotImplementedError(
                "avro source needs the spark-avro package on the classpath "
                "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
            ) from e
        raise
