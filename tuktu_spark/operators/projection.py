"""Projection / field-manipulation operators (SURVEY.md §2.3).

All pure column algebra — Catalyst collapses chains of these into a single
projection, so stacking many of them costs nothing at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..expressions import predicate_column, template_column
from .registry import flag, operator


@operator("skip", "identity")
def skip(config: dict):
    """SkipProcessor — identity (BaseProcessors.scala:23-27)."""
    return lambda df: df


@operator("field_filter", "select")
def field_filter(config: dict):
    """FieldFilterProcessor (BaseProcessors.scala:120-139): keep listed
    (dot-)paths, re-labelled, with defaults.

    config.fields: [{"path": "a.b", "as": "name", "default": x}, ...] or
    plain strings.
    """
    fields = config["fields"]

    def transform(df: DataFrame) -> DataFrame:
        cols = []
        for f in fields:
            if isinstance(f, str):
                f = {"path": f}
            col = F.col(f["path"])
            if "default" in f:
                col = F.coalesce(col, F.lit(f["default"]))
            cols.append(col.alias(f.get("as", f["path"].split(".")[-1])))
        return df.select(*cols)

    return transform


@operator("field_remove", "drop")
def field_remove(config: dict):
    """FieldRemoveProcessor (BaseProcessors.scala:144-155)."""
    fields = config["fields"]
    return lambda df: df.drop(*fields)


@operator("field_copy")
def field_copy(config: dict):
    """FieldCopyProcessor (BaseProcessors.scala:160-179): nested path ->
    new top-level field. config.copies: [{"path": "a.b", "as": "b"}]"""
    copies = config["copies"]

    def transform(df: DataFrame) -> DataFrame:
        for c in copies:
            df = df.withColumn(c["as"], F.col(c["path"]))
        return df

    return transform


@operator("field_rename", "rename")
def field_rename(config: dict):
    """FieldRenameProcessor (BaseProcessors.scala:292-327).
    config.renames: {"old": "new", ...}"""
    renames = config["renames"]

    def transform(df: DataFrame) -> DataFrame:
        return df.withColumnsRenamed(renames)

    return transform


@operator("constant_add", "add_constant")
def constant_add(config: dict):
    """FieldConstantAdderProcessor (BaseProcessors.scala:574-591): add a
    constant or templated field. config: {"field": name, "value": v,
    "template": "${a} ...", "numeric": bool}"""
    name = config["field"]

    def transform(df: DataFrame) -> DataFrame:
        if "template" in config:
            col = template_column(config["template"])
            if config.get("numeric"):
                col = col.cast("double")
        else:
            col = F.lit(config["value"])
        return df.withColumn(name, col)

    return transform


@operator("running_count")
def running_count(config: dict):
    """RunningCountProcessor (BaseProcessors.scala:184-208). Order must be
    explicit in a distributed engine (SURVEY.md §7.3): config.order_by
    required, optional partition_by, step_size, start.
    """
    order_by = config["order_by"]
    partition = config.get("partition_by", [])
    step = int(config.get("step_size", 1))
    start = int(config.get("start", 0))
    name = config.get("field", "count")

    def transform(df: DataFrame) -> DataFrame:
        if not partition:
            # global counter without the single-partition window funnel;
            # plain ascending orders take the persist-free bounded kernel
            from .joins import _global_row_number_auto

            out = _global_row_number_auto(df, list(order_by), "__grn__")
            return out.withColumn(
                name, (F.col("__grn__") - 1) * step + start
            ).drop("__grn__")
        w = Window.partitionBy(*partition).orderBy(*order_by)
        return df.withColumn(name, (F.row_number().over(w) - 1) * step + start)

    return transform


@operator("uuid_add")
def uuid_add(config: dict):
    """UUIDAdderProcessor (BaseProcessors.scala:1216-1223)."""
    name = config.get("field", "uuid")
    return lambda df: df.withColumn(name, F.expr("uuid()"))


@operator("fields_to_list")
def fields_to_list(config: dict):
    """FieldsToListProcessor (BaseProcessors.scala:1228-1242)."""
    fields = config["fields"]
    name = config.get("field", "list")
    return lambda df: df.withColumn(name, F.array(*[F.col(f) for f in fields]))


@operator("predicate_field")
def predicate_field(config: dict):
    """PredicateProcessor (BaseProcessors.scala:355-369): evaluate a Tuktu
    predicate into a boolean field."""
    expr = config["expression"]
    name = config.get("field", "predicate")
    eps = config.get("epsilon")
    return lambda df: df.withColumn(name, predicate_column(expr, epsilon=eps))


@operator("template_add")
def template_add(config: dict):
    """Tuktu-string computed field (utils.scala:48-191)."""
    name = config["field"]
    tmpl = config["template"]
    null_on_missing = flag(config, "null_on_missing", False)
    return lambda df: df.withColumn(
        name, template_column(tmpl, null_on_missing=null_on_missing)
    )


@operator("replace")
def replace(config: dict):
    """ReplaceProcessor (BaseProcessors.scala:213-229): iterated
    regex replace. config.replacements: [[pattern, target], ...]"""
    field = config["field"]
    replacements = config["replacements"]

    def transform(df: DataFrame) -> DataFrame:
        col = F.col(field)
        for pat, target in replacements:
            col = F.regexp_replace(col, pat, target)
        return df.withColumn(field, col)

    return transform
