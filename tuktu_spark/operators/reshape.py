"""Array / map / JSON / struct reshaping operators (SURVEY.md §2.8).

Everything here is built-in Spark column algebra (explode / transform /
to_json ...) — JVM-side, codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .registry import flag, operator


@operator("explode", "sequence_explode")
def explode(config: dict):
    """SequenceExploderProcessor (BaseProcessors.scala:900-918): one row per
    element of an array field. config: field, as (optional), keep_empty."""
    field = config["field"]
    out = config.get("as", field)
    fn = F.explode_outer if config.get("keep_empty") else F.explode
    return lambda df: df.withColumn(out, fn(F.col(field)))


@operator("zip_explode")
def zip_explode(config: dict):
    """ZipExplodeProcessor (BaseProcessors.scala:1175-1196): zip two arrays,
    explode pairs into two fields."""
    left, right = config["left"], config["right"]
    as_left = config.get("as_left", left)
    as_right = config.get("as_right", right)

    def transform(df: DataFrame) -> DataFrame:
        zipped = F.explode(F.arrays_zip(F.col(left), F.col(right)))
        return (
            df.withColumn("__z__", zipped)
            .withColumn(as_left, F.col(f"__z__.{left}"))
            .withColumn(as_right, F.col(f"__z__.{right}"))
            .drop("__z__")
        )

    return transform


@operator("flatten_seq")
def flatten_seq(config: dict):
    """SequenceFlattenerProcessor (BaseProcessors.scala:946-961)."""
    field = config["field"]
    return lambda df: df.withColumn(config.get("as", field), F.flatten(F.col(field)))


@operator("seq_length")
def seq_length(config: dict):
    """SequenceLengthProcessor (BaseProcessors.scala:923-941)."""
    field = config["field"]
    return lambda df: df.withColumn(config.get("as", "length"), F.size(F.col(field)))


@operator("list_element")
def list_element(config: dict):
    """GetListElementProcessor (BaseProcessors.scala:1291-1309); 1-based,
    null when out of range."""
    field = config["field"]
    index = int(config["index"])
    return lambda df: df.withColumn(
        config.get("as", field), F.try_element_at(F.col(field), F.lit(index))
    )


@operator("head_of_list")
def head_of_list(config: dict):
    """HeadOfListProcessor (BaseProcessors.scala:92-115)."""
    field = config["field"]
    return lambda df: df.withColumn(
        config.get("as", field), F.try_element_at(F.col(field), F.lit(1))
    )


@operator("string_split")
def string_split(config: dict):
    """StringSplitterProcessor (BaseProcessors.scala:1004-1025): split by
    separator, optional removal of empty strings."""
    field = config["field"]
    sep = config["separator"]
    out = config.get("as", field)
    drop_empty = flag(config, "drop_empty", False)

    def transform(df: DataFrame) -> DataFrame:
        col = F.split(F.col(field), sep)
        if drop_empty:
            col = F.filter(col, lambda x: x != "")
        return df.withColumn(out, col)

    return transform


@operator("string_implode", "array_join")
def string_implode(config: dict):
    """StringImploderProcessor (BaseProcessors.scala:668-696)."""
    field = config["field"]
    sep = config.get("separator", ",")
    return lambda df: df.withColumn(
        config.get("as", field), F.array_join(F.col(field), sep)
    )


@operator("implode_fields")
def implode_fields(config: dict):
    """ImploderProcessor (BaseProcessors.scala:760-780): collect given
    fields into one array per row."""
    fields = config["fields"]
    return lambda df: df.withColumn(
        config.get("as", "imploded"), F.array(*[F.col(f) for f in fields])
    )


@operator("collect_implode", "key_implode")
def collect_implode(config: dict):
    """KeyImploderProcessor (BaseProcessors.scala:785-802): gather a field's
    values across the packet into one list; packet -> group keys (or whole
    frame). Sorted for determinism."""
    field = config["field"]
    group_by = config.get("group_by", [])
    out = config.get("as", field)

    def transform(df: DataFrame) -> DataFrame:
        agg = F.sort_array(F.collect_list(F.col(field))).alias(out)
        if group_by:
            return df.groupBy(*group_by).agg(agg)
        return df.select(agg)

    return transform


@operator("distinct_seq")
def distinct_seq(config: dict):
    """DistinctSequenceProcessor (BaseProcessors.scala:966-981)."""
    field = config["field"]
    return lambda df: df.withColumn(
        config.get("as", field), F.array_distinct(F.col(field))
    )


@operator("flatten_struct", "flattener")
def flatten_struct(config: dict):
    """FlattenerProcessor (BaseProcessors.scala:844-895): recursively
    flatten nested structs into `parent<sep>child` top-level columns.
    Schema-driven — pure projection, zero shuffle."""
    sep = config.get("separator", ".")
    fields = config.get("fields")  # None = all struct fields

    def transform(df: DataFrame) -> DataFrame:
        def expand(schema: T.StructType, prefix_path: str, prefix_name: str):
            cols = []
            for f in schema.fields:
                path = f"{prefix_path}`{f.name}`" if prefix_path else f"`{f.name}`"
                name = f"{prefix_name}{sep}{f.name}" if prefix_name else f.name
                take = fields is None or prefix_name or f.name in fields
                if isinstance(f.dataType, T.StructType) and take:
                    cols.extend(expand(f.dataType, path + ".", name))
                else:
                    cols.append(F.col(path).alias(name))
            return cols

        return df.select(*expand(df.schema, "", ""))

    return transform


@operator("map_flatten")
def map_flatten(config: dict):
    """MapFlattenerProcessor (BaseProcessors.scala:1134-1153): promote map
    entries to top-level columns. Keys must be declared (fixed schema at
    scale). config: field, keys."""
    field = config["field"]
    keys = config["keys"]

    def transform(df: DataFrame) -> DataFrame:
        for k in keys:
            df = df.withColumn(k, F.col(field).getItem(k))
        return df.drop(field)

    return transform


@operator("list_map_project")
def list_map_project(config: dict):
    """ListMapFlattenerProcessor (BaseProcessors.scala:1030-1097): project a
    key out of a list-of-structs field."""
    field = config["field"]
    key = config["key"]
    return lambda df: df.withColumn(
        config.get("as", key), F.transform(F.col(field), lambda x: x[key])
    )


@operator("wrap_struct", "datum_to_field")
def wrap_struct(config: dict):
    """DatumToFieldProcessor / DataPacketWrapperProcessor
    (DatumToFieldProcessor.scala:12-19): nest the whole row under one
    struct field."""
    out = config.get("field", "datum")

    def transform(df: DataFrame) -> DataFrame:
        return df.select(F.struct(*[F.col(c) for c in df.columns]).alias(out))

    return transform


@operator("to_json")
def to_json(config: dict):
    """ConvertToJson / JSONCreator (processors/json/*): struct/row -> JSON
    string."""
    field = config.get("field")
    out = config.get("as", "json")

    def transform(df: DataFrame) -> DataFrame:
        col = F.col(field) if field else F.struct(*[F.col(c) for c in df.columns])
        return df.withColumn(out, F.to_json(col))

    return transform


@operator("from_json", "json_parse")
def from_json(config: dict):
    """JSONParseProcessor: JSON string field -> typed struct. Schema is
    declared (DDL string) or sampled from the data when omitted."""
    field = config["field"]
    out = config.get("as", field)
    schema = config.get("schema")

    def transform(df: DataFrame) -> DataFrame:
        sch = schema
        if sch is None:
            # schema inference probe: limit(1) bounds the driver action to
            # ONE row regardless of corpus size (config-scale by
            # construction, not a distributed collect) — declare `schema`
            # explicitly to skip the extra job entirely
            sample = df.select(field).na.drop().limit(1).collect()
            sch = (
                F.schema_of_json(F.lit(sample[0][0]))
                if sample
                else "map<string,string>"
            )
        return df.withColumn(out, F.from_json(F.col(field), sch))

    return transform


@operator("json_fetch")
def json_fetch(config: dict):
    """JsonFetcherProcessor (BaseProcessors.scala:234-263): pull nested JSON
    paths to top level with defaults. config.fields: [{"path": "$.a.b",
    "as": name, "default": v}]"""
    fields = config["fields"]
    src = config["field"]

    def transform(df: DataFrame) -> DataFrame:
        for f in fields:
            col = F.get_json_object(F.col(src), f["path"])
            if "default" in f:
                col = F.coalesce(col, F.lit(f["default"]))
            df = df.withColumn(f["as"], col)
        return df

    return transform


@operator("csv_string")
def csv_string(config: dict):
    """CSVStringProcessor (csv/CsvProcessors.scala:22-53): row -> CSV line."""
    fields = config.get("fields")
    out = config.get("as", "csv")
    sep = config.get("separator", ",")

    def transform(df: DataFrame) -> DataFrame:
        cols = fields or df.columns
        return df.withColumn(out, F.concat_ws(sep, *[F.col(c).cast("string") for c in cols]))

    return transform


@operator("csv_parse")
def csv_parse(config: dict):
    """CSVReaderProcessor (csv/CsvProcessors.scala:58-111): CSV-string field
    -> named columns."""
    field = config["field"]
    headers = config["headers"]
    sep = config.get("separator", ",")

    def transform(df: DataFrame) -> DataFrame:
        parts = F.split(F.col(field), sep)
        for i, h in enumerate(headers):
            df = df.withColumn(h, F.try_element_at(parts, F.lit(i + 1)))
        return df

    return transform


@operator("fixed_width")
def fixed_width(config: dict):
    """FixedWidthProcessor (csv/CsvProcessors.scala:179-215): slice a string
    field into columns by widths."""
    field = config["field"]
    widths = config["widths"]
    names = config["headers"]

    def transform(df: DataFrame) -> DataFrame:
        pos = 1
        for w, name in zip(widths, names):
            df = df.withColumn(name, F.trim(F.substring(F.col(field), pos, w)))
            pos += w
        return df

    return transform


@operator("list_json_fetch")
def list_json_fetch(config: dict):
    """ListJsonFetcherProcessor (BaseProcessors.scala:268-287): pull JSON
    paths out of a string column where the PATH LIST itself comes from an
    array field. config: {"json_field", "paths_field", "as"}.

    Per-row dynamic paths rule out `get_json_object` (literal-path only),
    so this is an Arrow-batched pandas UDF — the sanctioned Python seam."""
    json_field = config["json_field"]
    paths_field = config["paths_field"]
    out = config.get("as", "fetched")

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def fetch(js_col, paths_col):
        import json as _json

        import pandas as pd

        def walk(obj, path):
            for part in path.split("."):
                if isinstance(obj, dict) and part in obj:
                    obj = obj[part]
                else:
                    return None
            return obj if isinstance(obj, str) else _json.dumps(obj)

        def one(js, paths):
            if js is None or paths is None:
                return None
            try:
                obj = _json.loads(js)
            except ValueError:
                return None
            return [walk(obj, p) for p in paths]

        return pd.Series([one(j, p) for j, p in zip(js_col, paths_col)])

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(out, fetch(F.col(json_field), F.col(paths_field)))

    return transform


@operator("jsobject_implode")
def jsobject_implode(config: dict):
    """JsObjectImploderProcessor (BaseProcessors.scala:807-839): project a
    subpath out of an array-of-structs field and join with a separator."""
    field = config["field"]
    subpath = config["subpath"]
    sep = config.get("separator", " ")
    out = config.get("as", field)

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumn(
            out, F.array_join(F.transform(F.col(field), lambda x: x[subpath]), sep)
        )

    return transform


@operator("tuple_implode")
def tuple_implode(config: dict):
    """TupleListStringImploder (BaseProcessors.scala:701-755): join each
    struct's values with an inner separator, then the list with an outer
    one."""
    field = config["field"]
    inner = config.get("inner_separator", ",")
    outer = config.get("outer_separator", " ")
    out = config.get("as", field)

    def transform(df: DataFrame) -> DataFrame:
        elem = next(
            s.dataType.elementType for s in df.schema.fields if s.name == field
        )
        names = [f.name for f in elem.fields]
        return df.withColumn(
            out,
            F.array_join(
                F.transform(
                    F.col(field),
                    lambda x: F.concat_ws(inner, *[x[n].cast("string") for n in names]),
                ),
                outer,
            ),
        )

    return transform


@operator("datum_merge")
def datum_merge(config: dict):
    """DatumMergeProcessor (processors/DatumMergeProcessor.scala:14-18):
    fold all rows of a packet into ONE row, later rows winning scalars.

    Spark mapping: the packet boundary is a group key (``group``, empty =
    whole frame). Flat fast path: last non-null value per column — one
    hash aggregate, fully JVM-side. ``deep: true`` additionally
    deep-merges map<string,*> columns key-by-key (utils.mergeMap
    semantics) via map_concat-style last-wins of collected maps.

    config: {group: [cols], order_by: col (required for a deterministic
    'last'), deep: bool}."""
    group = list(config.get("group", []))
    order_by = config.get("order_by")
    deep = flag(config, "deep", False)

    def transform(df: DataFrame) -> DataFrame:
        if order_by is None:
            raise ValueError(
                "datum_merge needs order_by: 'last row wins' requires an "
                "explicit order in a distributed frame"
            )
        value_cols = [c for c in df.columns if c not in group and c != order_by]
        dtypes = dict(df.dtypes)
        aggs = []
        for c in value_cols:
            if deep and dtypes[c].startswith("map<"):
                # deep merge: fold the order-sorted maps, later keys win
                # (utils.mergeMap). collect_list order is partition-
                # dependent, so carry the order key and sort_array first.
                collected = F.collect_list(
                    F.when(
                        F.col(c).isNotNull(),
                        F.struct(F.col(order_by).alias("o"), F.col(c).alias("m")),
                    )
                )
                # sort_array can't order structs containing maps; a
                # comparator on just the order key can
                sorted_maps = F.transform(
                    F.array_sort(
                        collected,
                        lambda x, y: F.when(x["o"] < y["o"], -1)
                        .when(x["o"] > y["o"], 1)
                        .otherwise(0),
                    ),
                    lambda x: x["m"],
                )
                aggs.append(
                    F.aggregate(
                        sorted_maps,
                        F.expr(f"cast(map() as {dtypes[c]})"),
                        lambda acc, m: F.map_concat(
                            F.map_filter(acc, lambda k, v: ~F.map_contains_key(m, k)), m
                        ),
                    ).alias(c)
                )
            else:
                # value at the LAST order position where c is non-null;
                # max_by skips rows whose ordering expression is null, so
                # this is shuffle-order-independent (never last()/first())
                aggs.append(
                    F.expr(
                        f"max_by(`{c}`, CASE WHEN `{c}` IS NOT NULL "
                        f"THEN `{order_by}` END)"
                    ).alias(c)
                )
        g = df.groupBy(*group) if group else df.groupBy()
        return g.agg(*aggs)

    return transform


@operator("document_build")
def document_build(config: dict):
    """DocumentProcessor (nlp/processors/DocumentProcessor.scala:14-40):
    merge a packet's lines/sentences into ONE document string. Spark
    mapping: group (config.group, empty = whole frame) + ordered
    string_agg; ``order_by`` is required — packet order must be explicit
    in a distributed frame. config: {field, group, order_by, separator,
    remove_empty_lines, result}."""
    field = config["field"]
    group = list(config.get("group", []))
    order_by = config.get("order_by")
    sep = config.get("separator", " ")
    drop_empty = flag(config, "remove_empty_lines", True)
    result = config.get("result", "document")

    def transform(df: DataFrame) -> DataFrame:
        if order_by is None:
            raise ValueError("document_build needs order_by for a stable line order")
        src = df
        if drop_empty:
            src = src.filter((F.col(field).isNotNull()) & (F.col(field) != ""))
        collected = F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(order_by).alias("o"), F.col(field).alias("s"))
                )
            ),
            lambda x: x["s"],
        )
        g = src.groupBy(*group) if group else src.groupBy()
        return g.agg(F.array_join(collected, sep).alias(result))

    return transform


@operator("map_build")
def map_build(config: dict):
    """Build a map column from literal keys -> existing columns — the
    inverse of map_extract (reference analogue: the implicit map-datum
    construction every Tuktu processor does when assembling a packet,
    BaseProcessors.scala field writes). Used by the WebDataset repack
    stage to rebuild a sample's ext->bytes ``parts`` map after
    per-part transforms (e.g. metadata strip). config:
    {field, entries: {key: column}}."""
    out = config["field"]
    entries = config["entries"]

    def transform(df: DataFrame) -> DataFrame:
        kv = []
        for k, col in entries.items():
            kv += [F.lit(k), F.col(col)]
        return df.withColumn(out, F.create_map(*kv))

    return transform
