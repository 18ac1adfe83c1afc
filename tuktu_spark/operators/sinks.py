"""Sink operators (SURVEY.md §2.2) — terminal nodes of a flow.

A sink factory returns ``DataFrame -> None`` (side effect) except
``memory``/``console`` which also return data for sync flows
(SyncStreamGenerator analogue, SURVEY.md §3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tables import persist
from .registry import flag, operator


@operator("parquet_sink")
def parquet_sink(config: dict):
    """TDFS/HDFS writers (dfs/WriterProcessor.scala; nosql/hdfs.scala) ->
    parquet with optional partitioning (rotation analogue)."""
    path = config["path"]
    mode = config.get("mode", "overwrite")
    partition_by = config.get("partition_by")

    def sink(df: DataFrame):
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return df

    return sink


@operator("bucketed_write")
def bucketed_write(config: dict):
    """Bucketed managed-table write — the co-located-join pattern for
    repeated large-table joins at 100 TB: both sides bucketed (and
    sorted) by the join key into the same bucket count join WITHOUT a
    shuffle (no Exchange in the plan; asserted in tests/test_plans.py).
    Write once, join many. config: {table, buckets, by: [cols],
    sort_by: [cols], mode}."""
    table = config["table"]
    buckets = int(config["buckets"])
    by = list(config["by"])
    sort_by = list(config.get("sort_by", by))

    def sink(df: DataFrame):
        (
            df.write.mode(config.get("mode", "overwrite"))
            .bucketBy(buckets, *by)
            .sortBy(*sort_by)
            .saveAsTable(table)
        )
        return df

    return sink


@operator("csv_sink")
def csv_sink(config: dict):
    """CSVWriterProcessor (csv/CsvProcessors.scala:116-174) /
    FileStreamProcessor (FileProcessors.scala:25-59): field/line separators
    = csv options; dynamic filename -> partition_by."""
    path = config["path"]
    header = flag(config, "header", True)

    def sink(df: DataFrame):
        writer = df.write.mode(config.get("mode", "overwrite")).options(
            header=header,
            sep=config.get("separator", ","),
        )
        if config.get("partition_by"):
            writer = writer.partitionBy(*config["partition_by"])
        writer.csv(path)
        return df

    return sink


@operator("json_sink")
def json_sink(config: dict):
    """JSON-lines file sink (df.write.json)."""
    path = config["path"]

    def sink(df: DataFrame):
        df.write.mode(config.get("mode", "overwrite")).json(path)
        return df

    return sink


@operator("jdbc_sink")
def jdbc_sink(config: dict):
    """SQLProcessor fire-and-forget / BulkUpserter (nosql/sql.scala:46-111)
    -> df.write.jdbc. Append/overwrite; MERGE needs foreachBatch upstream."""
    def sink(df: DataFrame):
        writer = (
            df.write.format("jdbc")
            .option("url", config["url"])
            .option("dbtable", config["table"])
            .mode(config.get("mode", "append"))
        )
        for k, v in config.get("properties", {}).items():
            writer = writer.option(k, v)
        writer.save()
        return df

    return sink


@operator("console")
def console(config: dict):
    """ConsoleWriterProcessor (BaseProcessors.scala:641-663)."""
    n = int(config.get("n", 20))
    truncate = flag(config, "truncate", True)

    def sink(df: DataFrame):
        df.show(n, truncate=truncate)
        return df

    return sink


@operator("memory")
def memory(config: dict):
    """Sync-flow endpoint (SyncStreamGenerator, StreamGenerators.scala:50-147
    analogue): materialize for the caller."""
    def sink(df: DataFrame):
        return df

    return sink


@operator("noop_sink")
def noop_sink(config: dict):
    """Force full execution without materializing (benchmark sink)."""
    def sink(df: DataFrame):
        df.write.mode("overwrite").format("noop").save()
        return df

    return sink


@operator("cache")
def cache(config: dict):
    """CachingProcessor / CacheTableProcessor (cache/CachingProcessor.scala:
    24-91) -> df.persist; reused by every downstream branch, released by
    the next run_flow or query build (tables.persist)."""
    return persist


@operator("view_delete")
def view_delete(config: dict):
    """TuktuDB keyed delete (modules/dfs or TuktuDBDeleteProcessor): remove
    matching rows from a registered temp view — the Spark analogue of
    deleting keys from the in-memory store. config: {view, where} or
    {view, key_field, values}. Passes the piped frame through unchanged."""
    view = config["view"]

    def transform(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        tbl = spark.table(view)
        if "where" in config:
            from ..expressions.predicate import predicate_column

            keep = ~predicate_column(config["where"])
        else:
            keep = ~F.col(config["key_field"]).isin(list(config["values"]))
        spark.catalog.dropTempView(view)
        tbl.filter(keep).createOrReplaceTempView(view)
        return df

    return transform


@operator("binary_files_sink")
def binary_files_sink(config: dict):
    """BinaryFileStream writer (file/BinaryFileStreamProcessor): one file
    per row from a binary column, named by an id column — the standard
    shape for media pipelines (each executor writes its partition's rows;
    no driver collect). Each file is written to a unique temp name and
    os.rename()d into place, so a task retry or speculative duplicate can
    never leave a truncated or interleaved file — the rename is atomic on
    POSIX filesystems and last-writer-wins with identical content.
    Local/NFS paths; for object stores mount or use parquet+binary columns
    instead (and disable speculative execution if the store's rename is
    not atomic). config: {dir, field, name_field, suffix}."""
    out_dir = config["dir"]
    field = config["field"]
    name_field = config["name_field"]
    suffix = config.get("suffix", ".bin")

    def sink(df: DataFrame):
        import os

        os.makedirs(out_dir, exist_ok=True)

        def write_partition(rows):
            import uuid

            for r in rows:
                payload = r[field]
                if payload is None:
                    continue
                final = os.path.join(out_dir, f"{r[name_field]}{suffix}")
                tmp = os.path.join(
                    out_dir, f".{r[name_field]}.{uuid.uuid4().hex}.tmp"
                )
                with open(tmp, "wb") as f:
                    f.write(bytes(payload))
                os.rename(tmp, final)

        df.select(name_field, field).foreachPartition(write_partition)
        return df

    return sink


@operator("orc_sink")
def orc_sink(config: dict):
    """ORC writer with optional partitioning — same rotation analogue as
    parquet_sink, for ORC-standardized estates."""
    path = config["path"]
    mode = config.get("mode", "overwrite")
    partition_by = config.get("partition_by")

    def sink(df: DataFrame):
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.orc(path)
        return df

    return sink


@operator("avro_sink")
def avro_sink(config: dict):
    """Avro writer via Spark's external spark-avro module — gated like
    the avro source (jar not bundled with pyspark; errors with the
    package coordinate instead of a raw AnalysisException)."""
    path = config["path"]
    mode = config.get("mode", "overwrite")

    def sink(df: DataFrame):
        try:
            df.write.mode(mode).format("avro").save(path)
        except Exception as e:  # noqa: BLE001 - jvm exception types vary
            if "avro" in str(e).lower():
                raise NotImplementedError(
                    "avro_sink needs the spark-avro package on the classpath "
                    "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
                ) from e
            raise
        return df

    return sink
