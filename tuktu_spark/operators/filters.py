"""Filter operators (SURVEY.md §2.3) — all compile to Catalyst filters, so
they push down to the parquet scan when they reference scan columns."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..expressions import predicate_column
from .registry import flag, operator


@operator("filter", "packet_filter")
def packet_filter(config: dict):
    """PacketFilterProcessor (BaseProcessors.scala:374-496): keep rows
    satisfying a Tuktu predicate expression; ``negate`` inverts.

    Batch mode (:468-484): keep/drop all rows of a *group* if at least
    ``batch_min_count`` rows match — config.batch_by names the grouping
    key(s) standing in for Tuktu's packet boundary (SURVEY.md §7.3 hard
    part 2); implemented as a windowed conditional count, no extra join.
    """
    expr = config["expression"]
    negate = flag(config, "negate", False)
    eps = config.get("epsilon")
    batch_by = config.get("batch_by")
    batch_min = int(config.get("batch_min_count", 1))

    def transform(df: DataFrame) -> DataFrame:
        cond = predicate_column(expr, epsilon=eps)
        if negate:
            cond = ~cond
        if not batch_by:
            return df.filter(cond)
        w = Window.partitionBy(*batch_by)
        matched = F.sum(F.when(cond, 1).otherwise(0)).over(w)
        return (
            df.withColumn("__match__", matched)
            .filter(F.col("__match__") >= batch_min)
            .drop("__match__")
        )

    return transform


@operator("regex_filter")
def regex_filter(config: dict):
    """PacketRegexFilterProcessor (BaseProcessors.scala:501-569): regex find
    with and/or/negate expression trees.

    config.expression: {"type": "and"|"or"|"negate", "terms": [...]} leaf:
    {"field": f, "regex": pat}
    """
    expression = config["expression"]

    def build(node) -> F.Column:
        if "field" in node:
            return F.col(node["field"]).rlike(node["regex"])
        terms = [build(t) for t in node["terms"]]
        kind = node["type"]
        if kind == "and":
            return reduce(lambda a, b: a & b, terms)
        if kind == "or":
            return reduce(lambda a, b: a | b, terms)
        if kind == "negate":
            return ~terms[0]
        raise ValueError(f"unknown regex-filter node type {kind!r}")

    return lambda df: df.filter(build(expression))


@operator("absent_fields_filter")
def absent_fields_filter(config: dict):
    """AbsentFieldsFilterProcessor (BaseProcessors.scala:1201-1211): keep
    rows containing (non-null) all listed fields."""
    fields = config["fields"]

    def transform(df: DataFrame) -> DataFrame:
        cond = reduce(lambda a, b: a & b, [F.col(f).isNotNull() for f in fields])
        return df.filter(cond)

    return transform


@operator("contains_all_filter")
def contains_all_filter(config: dict):
    """ContainsAllFilterProcessor (BaseProcessors.scala:1102-1129): keep row
    iff array field ``field`` covers all of ``values``."""
    field = config["field"]
    values = config["values"]
    return lambda df: df.filter(
        F.size(F.array_except(F.lit(values).cast("array<string>"), F.col(field).cast("array<string>"))) == 0
    )


@operator("remove_empty")
def remove_empty(config: dict):
    """RemoveEmptyPacketProcessor (BaseProcessors.scala:1273-1286): drop rows
    where all (or listed) fields are null."""
    fields = config.get("fields")
    return lambda df: df.na.drop(how="all", subset=fields)
