"""External-system connector wrappers (SURVEY.md §2.1/§2.2 remainder).

Each reference connector generator/processor becomes a thin config->plan
builder over the corresponding Spark connector format. The builders only
CONSTRUCT the reader/writer (connection happens at action time), so they
are unit-testable without brokers; integration against live systems is an
ops concern, exactly as in the reference (whose connectors are thin
client-library wrappers too).

| reference | here |
|---|---|
| KafkaGenerator (nosql/generators/kafka.scala:18-79) | kafka / kafka_stream sources |
| KafkaProcessor (nosql/processors/kafka.scala) | kafka_sink |
| MongoDB generators/processors (nosql/{generators,processors}/mongodb*) | mongo source/sink (mongo-spark connector) |
| CassandraGenerator/Processor (nosql/*/cassandra.scala) | cassandra source/sink |
| ESProcessor (nosql/processors/elasticsearch.scala:22-94) | elasticsearch source/sink |
| KinesisGenerator / S3Generator (aws/generators/*) | kinesis source; s3 paths work natively via s3a:// |
| RESTGenerator (web/generators/RESTGenerator.scala:15-78) | rest source (driver-side fetch -> createDataFrame) |
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import flag, operator, source


def _opts(reader, options: dict):
    for k, v in (options or {}).items():
        reader = reader.option(k, str(v))
    return reader


@source("kafka_stream")
def kafka_stream(spark: SparkSession, config: dict) -> DataFrame:
    """Streaming Kafka consumer (KafkaGenerator analogue). The reference
    runs one thread per partition; Spark maps Kafka partitions to tasks."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", config["servers"])
        .option("subscribe", config["topic"])
        .option("startingOffsets", config.get("starting_offsets", "earliest"))
    )
    return _opts(reader, config.get("options", {})).load()


@source("kafka")
def kafka_batch(spark: SparkSession, config: dict) -> DataFrame:
    """Bounded Kafka read (backfill): same options, batch reader."""
    reader = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", config["servers"])
        .option("subscribe", config["topic"])
    )
    return _opts(reader, config.get("options", {})).load()


@operator("kafka_sink")
def kafka_sink(config: dict):
    """KafkaProcessor: produce rows to a topic. Rows must provide a
    ``value`` column (string/binary); ``key`` optional."""

    def sink(df: DataFrame):
        writer = (
            df.write.format("kafka")
            .option("kafka.bootstrap.servers", config["servers"])
            .option("topic", config["topic"])
        )
        for k, v in config.get("options", {}).items():
            writer = writer.option(k, str(v))
        writer.save()
        return df

    return sink


@source("mongo")
def mongo_source(spark: SparkSession, config: dict) -> DataFrame:
    """MongoDBFindGenerator / AggregateGenerator: mongo-spark connector
    with an optional aggregation ``pipeline`` (find filters become $match
    stages, which the connector pushes down to the server)."""
    reader = (
        spark.read.format("mongodb")
        .option("connection.uri", config["uri"])
        .option("database", config["database"])
        .option("collection", config["collection"])
    )
    if config.get("pipeline"):
        reader = reader.option("aggregation.pipeline", json.dumps(config["pipeline"]))
    return _opts(reader, config.get("options", {})).load()


@operator("mongo_sink")
def mongo_sink(config: dict):
    """MongoDBInsertProcessor -> connector write (bulk, per-partition)."""

    def sink(df: DataFrame):
        (
            df.write.format("mongodb")
            .mode(config.get("mode", "append"))
            .option("connection.uri", config["uri"])
            .option("database", config["database"])
            .option("collection", config["collection"])
            .save()
        )
        return df

    return sink


@source("cassandra")
def cassandra_source(spark: SparkSession, config: dict) -> DataFrame:
    """CassandraGenerator: spark-cassandra-connector table scan (predicate
    pushdown to CQL where the connector supports it)."""
    reader = (
        spark.read.format("org.apache.spark.sql.cassandra")
        .option("keyspace", config["keyspace"])
        .option("table", config["table"])
    )
    return _opts(reader, config.get("options", {})).load()


@operator("cassandra_sink")
def cassandra_sink(config: dict):
    """CassandraProcessor (nosql/processors/cassandra.scala) -> connector
    table write."""

    def sink(df: DataFrame):
        (
            df.write.format("org.apache.spark.sql.cassandra")
            .mode(config.get("mode", "append"))
            .option("keyspace", config["keyspace"])
            .option("table", config["table"])
            .save()
        )
        return df

    return sink


@source("elasticsearch")
def es_source(spark: SparkSession, config: dict) -> DataFrame:
    """ESProcessor read path via elasticsearch-spark ("es" format)."""
    reader = (
        spark.read.format("es")
        .option("es.nodes", config["nodes"])
        .option("es.resource", config["index"])
    )
    if config.get("query"):
        reader = reader.option("es.query", json.dumps(config["query"]))
    return _opts(reader, config.get("options", {})).load()


@operator("elasticsearch_sink")
def es_sink(config: dict):
    """ESProcessor write path (nosql/processors/elasticsearch.scala:22-94)
    via the elasticsearch-spark connector."""

    def sink(df: DataFrame):
        (
            df.write.format("es")
            .mode(config.get("mode", "append"))
            .option("es.nodes", config["nodes"])
            .option("es.resource", config["index"])
            .save()
        )
        return df

    return sink


@source("kinesis")
def kinesis_source(spark: SparkSession, config: dict) -> DataFrame:
    """KinesisGenerator (modules/aws/app/tuktu/aws/generators): streaming
    read via the kinesis connector format (available on AWS runtimes).
    ``reader`` is an injectable callable (stream_name -> list[dict] with
    keys data/partitionKey/sequenceNumber) for tests and bounded
    backfills: when injected, the fetched records surface as a BATCH
    DataFrame in the connector's column layout, so downstream operators
    are identical either way."""
    fetch = config.get("reader")
    if fetch is not None:
        rows = [
            (
                r["data"].encode("utf-8")
                if isinstance(r["data"], str)
                else bytes(r["data"]),
                str(r.get("partitionKey", "")),
                str(r.get("sequenceNumber", "")),
                str(config["stream"]),
            )
            for r in fetch(config["stream"])
        ]
        return spark.createDataFrame(
            rows,
            "data binary, partitionKey string, sequenceNumber string, "
            "streamName string",
        )
    reader = (
        spark.readStream.format("kinesis")
        .option("streamName", config["stream"])
        .option("region", config.get("region", "us-east-1"))
        .option("initialPosition", config.get("initial_position", "latest"))
    )
    return _opts(reader, config.get("options", {})).load()


@operator("kinesis_sink")
def kinesis_sink(config: dict):
    """KinesisProcessor (modules/aws/app/tuktu/aws/processors): put rows
    onto a Kinesis stream. Executor-side foreachPartition with one
    PutRecords call per <=500-record chunk (the public API batch limit)
    — the corpus never collects to the driver. Rows must provide a
    ``data`` column (string/binary; NULL rows are skipped — the
    kinesis_source/classify_images convention); ``partition_key_field``
    selects the PartitionKey column (default: a per-row hash of data,
    spreading shards).

    PutRecords is NOT all-or-nothing: the API can return 200 with
    FailedRecordCount > 0 under shard throttling, and the failed subset
    must be re-put. The sink retries exactly the failed records (read
    from the response's per-record ErrorCode) up to ``max_retries``
    times with exponential backoff and raises if any remain — silent
    partial loss is the one unacceptable outcome for a sink.

    ``putter`` is an injectable callable (stream_name, records:
    list[dict with Data/PartitionKey]) -> optional PutRecords-style
    response dict, for tests; returning None means all records
    succeeded. The default builds ONE boto3 client per partition
    (connection reuse across chunks; ``endpoint_url`` supports
    localstack-style endpoints). config: {stream, region, endpoint_url,
    data_field, partition_key_field, putter, max_retries}."""
    stream = config["stream"]
    region = config.get("region", "us-east-1")
    endpoint_url = config.get("endpoint_url")
    data_field = config.get("data_field", "data")
    pk_field = config.get("partition_key_field")
    putter = config.get("putter")
    max_retries = int(config.get("max_retries", 3))

    def sink(df: DataFrame):
        if putter is None:
            try:
                import boto3  # noqa: F401
            except ImportError as e:
                raise NotImplementedError(
                    "kinesis_sink needs boto3 (not in this environment) or "
                    "an injected config['putter'] callable"
                ) from e

        def per_partition(rows):
            import hashlib
            import time as _time

            if putter is not None:
                put = putter
            else:
                import boto3 as _b

                client = _b.client(  # one client per partition
                    "kinesis", region_name=region, endpoint_url=endpoint_url
                )

                def put(stream_name: str, records: "list[dict]"):
                    return client.put_records(
                        StreamName=stream_name, Records=records
                    )

            def put_with_retry(records: "list[dict]") -> None:
                pending = records
                for attempt in range(max_retries + 1):
                    resp = put(stream, pending) or {}
                    if not resp.get("FailedRecordCount"):
                        return
                    pending = [
                        rec
                        for rec, status in zip(pending, resp["Records"])
                        if status.get("ErrorCode")
                    ]
                    if attempt < max_retries:
                        _time.sleep(min(0.1 * 2**attempt, 2.0))
                # index 0 of the final response may be a record that
                # SUCCEEDED on the last attempt — report the first entry
                # that actually carries an ErrorCode
                first_err = next(
                    (
                        s.get("ErrorCode")
                        for s in resp.get("Records", [])
                        if s.get("ErrorCode")
                    ),
                    None,
                )
                raise RuntimeError(
                    f"kinesis_sink: {len(pending)} records still failing "
                    f"after {max_retries} retries (first error: {first_err})"
                )

            batch: list[dict] = []
            for row in rows:
                payload = row[data_field]
                if payload is None:
                    continue
                data = (
                    payload.encode("utf-8")
                    if isinstance(payload, str)
                    else bytes(payload)
                )
                pk = (
                    str(row[pk_field])
                    if pk_field
                    else hashlib.md5(data).hexdigest()
                )
                batch.append({"Data": data, "PartitionKey": pk})
                if len(batch) >= 500:  # public PutRecords limit
                    put_with_retry(batch)
                    batch = []
            if batch:
                put_with_retry(batch)

        df.foreachPartition(per_partition)
        return df

    return sink


@source("rest")
def rest_source(spark: SparkSession, config: dict) -> DataFrame:
    """RESTGenerator (web/generators/RESTGenerator.scala:15-78): one HTTP
    request on the driver -> rows. Body parsed as json (list -> rows,
    object -> one row) or kept as text. Driver-side by design: the
    reference emits a single datum per request too; bulk HTTP ingestion
    at scale should land in object storage first."""
    import urllib.request

    req = urllib.request.Request(
        config["url"],
        method=config.get("method", "GET"),
        headers=config.get("headers", {}),
        data=(config.get("body") or "").encode() or None,
    )
    with urllib.request.urlopen(req, timeout=config.get("timeout", 30)) as resp:
        status = resp.status
        text = resp.read().decode(config.get("encoding", "utf-8"))
    rows_col = config.get("as", "body")
    if config.get("parse", "json") == "json":
        data = json.loads(text)
        items = data if isinstance(data, list) else [data]
        return spark.createDataFrame(
            [(json.dumps(x, sort_keys=True), status) for x in items],
            f"{rows_col} string, status int",
        )
    return spark.createDataFrame([(text, status)], f"{rows_col} string, status int")


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'AB3' -> 27 (0-based column from an A1-style ref)."""
    n = 0
    for ch in cell_ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - ord("A") + 1)
    return n - 1


def read_xlsx_rows(path: str, sheet: int = 1) -> list[list]:
    """Dependency-free XLSX reader: the format is a ZIP of XML (ECMA-376,
    SpreadsheetML), so zipfile + ElementTree suffice — shared strings,
    A1-style cell anchors with gap filling, number/boolean/inline/shared
    cell types, and cached formula values. Legacy binary .xls is NOT
    covered (that needs xlrd)."""
    import xml.etree.ElementTree as ET
    import zipfile

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter() if t.tag.endswith("}t")))
        sheet_name = f"xl/worksheets/sheet{sheet}.xml"
        root = ET.fromstring(zf.read(sheet_name))
        rows: list[list] = []
        for row in root.iter("{http://schemas.openxmlformats.org/spreadsheetml/2006/main}row"):
            out: list = []
            for cell in row:
                ref = cell.get("r", "")
                idx = _col_index(ref) if ref else len(out)
                while len(out) < idx:
                    out.append(None)
                ctype = cell.get("t", "n")
                v = cell.find("m:v", ns)
                if ctype == "inlineStr":
                    is_el = cell.find("m:is", ns)
                    val = "".join(
                        t.text or "" for t in (is_el.iter() if is_el is not None else ()) if t.tag.endswith("}t")
                    )
                elif v is None or v.text is None:
                    val = None
                elif ctype == "s":
                    val = shared[int(v.text)]
                elif ctype == "b":
                    val = v.text == "1"
                elif ctype == "str":  # cached formula result
                    val = v.text
                else:
                    num = float(v.text)
                    val = int(num) if num.is_integer() else num
                out.append(val)
            rows.append(out)
        width = max((len(r) for r in rows), default=0)
        return [r + [None] * (width - len(r)) for r in rows]


def _sheet_rows_to_df(spark: SparkSession, rows: list[list], header: bool) -> DataFrame:
    """Shared .xlsx/.xls tail: parsed cell rows -> typed DataFrame.
    Per-column types inferred from the values (all-bool -> boolean,
    all-int -> bigint, numeric -> double, otherwise string)."""
    if header and rows:
        cols = [str(c) if c is not None else f"_c{i}" for i, c in enumerate(rows[0])]
        data = rows[1:]
    else:
        cols = [f"_c{i}" for i in range(len(rows[0]) if rows else 0)]
        data = rows

    def col_type(i: int) -> str:
        vals = [r[i] for r in data if i < len(r) and r[i] is not None]
        if not vals:
            return "string"
        if all(isinstance(v, bool) for v in vals):
            return "boolean"
        if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
            return "bigint"
        if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals):
            return "double"
        return "string"

    types = [col_type(i) for i in range(len(cols))]

    def cast_cell(v, t):
        if v is None:
            return None
        if t == "boolean":
            return bool(v)
        if t == "bigint":
            return int(v)
        if t == "double":
            return float(v)
        return str(v)

    cells = [
        [cast_cell(r[i] if i < len(r) else None, types[i]) for i in range(len(cols))]
        for r in data
    ]
    schema = ", ".join(f"`{c}` {t}" for c, t in zip(cols, types))
    return spark.createDataFrame(cells, schema)


@source("xls", "xlsx")
def xls_source(spark: SparkSession, config: dict) -> DataFrame:
    """XlsGenerator / XlsxGenerator (modules/csv flattening): Excel sheet ->
    rows, driver-side (spreadsheets are config-scale data). BOTH formats
    parse with dependency-free stdlib readers: .xlsx via zip+XML
    (read_xlsx_rows above), legacy binary .xls via the native CFB+BIFF8
    reader (xls_biff.read_xls_rows) — no xlrd/POI needed. config: {path,
    sheet (1-based), header}."""
    path = config["path"]
    if str(path).lower().endswith((".xlsx", ".xlsm")):
        rows = read_xlsx_rows(path, sheet=int(config.get("sheet", 1)))
    else:
        from .xls_biff import read_xls_rows

        rows = read_xls_rows(path, sheet=int(config.get("sheet", 1)))
    return _sheet_rows_to_df(spark, rows, flag(config, "header", True))


@operator("smtp_sink")
def smtp_sink(config: dict):
    """SMTPProcessor (app/tuktu/processors/SMTPProcessor.scala): one email
    per row, driver-side (alert-volume data by definition — collect() is
    intentional and bounded by config.max_rows). ``transport`` is injectable
    for tests; default smtplib."""
    host = config.get("host", "localhost")
    port = int(config.get("port", 25))
    max_rows = int(config.get("max_rows", 100))
    subject_tpl = config.get("subject", "tuktu-spark notification")
    body_field = config["body_field"]
    to_field = config["to_field"]
    sender = config.get("from", "tuktu-spark@localhost")
    transport = config.get("transport")

    def sink(df: DataFrame):
        rows = df.limit(max_rows).collect()
        if transport is not None:
            for r in rows:
                transport(r[to_field], subject_tpl, r[body_field])
            return df
        import smtplib
        from email.message import EmailMessage

        with smtplib.SMTP(host, port) as smtp:
            for r in rows:
                msg = EmailMessage()
                msg["From"], msg["To"], msg["Subject"] = sender, r[to_field], subject_tpl
                msg.set_content(str(r[body_field]))
                smtp.send_message(msg)
        return df

    return sink


@source("mongo_collections")
def mongo_collections(spark: SparkSession, config: dict) -> DataFrame:
    """MongoDBCollectionsGenerator (nosql/generators/mongodb.scala:167-210):
    one row per collection name in a database. Listing collections is a
    metadata call, not a scan — driver-side by design. ``lister`` is an
    injectable callable (db_name -> list[str]) for tests; the default uses
    pymongo when present, else fails with a clear message (the mongo-spark
    connector has no listCollections surface)."""
    db = config["database"]
    lister = config.get("lister")
    if lister is None:
        try:
            from pymongo import MongoClient
        except ImportError as e:
            raise NotImplementedError(
                "mongo_collections needs pymongo (not in this environment) "
                "or an injected config['lister'] callable"
            ) from e

        def lister(database: str) -> list[str]:
            with MongoClient(config["uri"]) as client:
                return sorted(client[database].list_collection_names())

    names = lister(db)
    return spark.createDataFrame([(n,) for n in names], ["collection"])


@source("mongo_command")
def mongo_command(spark: SparkSession, config: dict) -> DataFrame:
    """MongoDBCommandGenerator / RawCommandProcessor (nosql/generators/
    mongodb.scala; processors): run a raw database command and surface the
    reply as rows. Metadata-scale driver call by design. ``runner`` is an
    injectable callable (db, command_dict) -> list[dict] for tests; the
    default uses pymongo when present."""
    db = config["database"]
    command = config["command"]
    runner = config.get("runner")
    if runner is None:
        try:
            from pymongo import MongoClient
        except ImportError as e:
            raise NotImplementedError(
                "mongo_command needs pymongo (not in this environment) "
                "or an injected config['runner'] callable"
            ) from e

        def runner(database: str, cmd) -> list[dict]:
            with MongoClient(config["uri"]) as client:
                out = client[database].command(cmd)
                return out if isinstance(out, list) else [out]

    import json as _json

    rows = runner(db, command)
    return spark.createDataFrame(
        [(_json.dumps(r, sort_keys=True, default=str),) for r in rows], ["reply"]
    )


def _render_mongo_template(spec, row: dict):
    """Per-datum ``#{field}`` template evaluation for mongo query/update
    specs (the reference's evaluateTuktuString / prepareTuktuJsValue): a
    string that is EXACTLY one placeholder takes the row value with its
    type preserved; embedded placeholders interpolate as text; dicts and
    lists render recursively."""
    import re

    if isinstance(spec, dict):
        return {k: _render_mongo_template(v, row) for k, v in spec.items()}
    if isinstance(spec, list):
        return [_render_mongo_template(v, row) for v in spec]
    if isinstance(spec, str):
        m = re.fullmatch(r"#\{(\w+)\}", spec)
        if m:
            return row.get(m.group(1))
        return re.sub(
            r"#\{(\w+)\}", lambda mm: str(row.get(mm.group(1), "")), spec
        )
    return spec


@operator("mongo_update")
def mongo_update(config: dict):
    """MongoDBUpdateProcessor (nosql/processors/mongodb/
    MongoDBUpdateProcessor.scala:22-100): per-datum keyed update — query
    and update documents are ``#{field}`` templates rendered from each
    row, applied as UpdateOne/UpdateMany (+upsert). Executor-side
    foreachPartition with ONE bulk_write per partition (ordered=False),
    so the corpus never collects to the driver. ``writer`` is an
    injectable callable (database, collection, ops: list[dict]) -> None
    for tests; the default uses pymongo. config: {uri, database,
    collection, query, update, upsert, multi, writer}."""
    query_t = config["query"]
    update_t = config["update"]
    upsert = flag(config, "upsert", False)
    multi = flag(config, "multi", False)
    writer = config.get("writer")
    db, coll, uri = config["database"], config["collection"], config.get("uri")

    def transform(df: DataFrame) -> DataFrame:
        def run(partition):
            ops = [
                {
                    "query": _render_mongo_template(query_t, row.asDict(recursive=True)),
                    "update": _render_mongo_template(update_t, row.asDict(recursive=True)),
                    "upsert": upsert,
                    "multi": multi,
                }
                for row in partition
            ]
            if not ops:
                return
            if writer is not None:
                writer(db, coll, ops)
                return
            try:
                from pymongo import MongoClient, UpdateMany, UpdateOne
            except ImportError as e:
                raise NotImplementedError(
                    "mongo_update needs pymongo (not in this environment) "
                    "or an injected config['writer'] callable"
                ) from e
            make = UpdateMany if multi else UpdateOne
            reqs = [make(o["query"], o["update"], upsert=o["upsert"]) for o in ops]
            with MongoClient(uri) as client:
                client[db][coll].bulk_write(reqs, ordered=False)

        df.foreachPartition(run)
        return df

    return transform


@operator("mongo_remove")
def mongo_remove(config: dict):
    """MongoDBRemoveProcessor (nosql/processors/mongodb/
    MongoDBRemoveProcessor.scala:24-90): per-datum keyed delete — the
    query document is a ``#{field}`` template rendered from each row,
    applied as DeleteOne (just_one) or DeleteMany. Same executor-side
    bulk shape and injectable ``writer`` as mongo_update. config: {uri,
    database, collection, query, just_one, writer}."""
    query_t = config["query"]
    just_one = flag(config, "just_one", False)
    writer = config.get("writer")
    db, coll, uri = config["database"], config["collection"], config.get("uri")

    def transform(df: DataFrame) -> DataFrame:
        def run(partition):
            ops = [
                {
                    "query": _render_mongo_template(query_t, row.asDict(recursive=True)),
                    "just_one": just_one,
                }
                for row in partition
            ]
            if not ops:
                return
            if writer is not None:
                writer(db, coll, ops)
                return
            try:
                from pymongo import DeleteMany, DeleteOne, MongoClient
            except ImportError as e:
                raise NotImplementedError(
                    "mongo_remove needs pymongo (not in this environment) "
                    "or an injected config['writer'] callable"
                ) from e
            make = DeleteOne if just_one else DeleteMany
            reqs = [make(o["query"]) for o in ops]
            with MongoClient(uri) as client:
                client[db][coll].bulk_write(reqs, ordered=False)

        df.foreachPartition(run)
        return df

    return transform


@operator("mongo_count")
def mongo_count(config: dict):
    """MongoDBCountProcessor: attach the server-side count of documents
    matching a filter. ``counter`` is an injectable callable
    (db, collection, filter) -> int; default pymongo."""
    db = config["database"]
    coll = config["collection"]
    filt = config.get("filter", {})
    counter = config.get("counter")
    result = config.get("result", "mongo_count")

    def transform(df: DataFrame) -> DataFrame:
        fn = counter
        if fn is None:
            try:
                from pymongo import MongoClient
            except ImportError as e:
                raise NotImplementedError(
                    "mongo_count needs pymongo (not in this environment) "
                    "or an injected config['counter'] callable"
                ) from e

            def fn(database: str, collection: str, f) -> int:
                with MongoClient(config["uri"]) as client:
                    return client[database][collection].count_documents(f)

        n = int(fn(db, coll, filt))
        return df.withColumn(result, F.lit(n).cast("long"))

    return transform
