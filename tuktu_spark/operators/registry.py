"""Operator / source registries.

An *operator* factory takes a config dict and returns a transform
``DataFrame -> DataFrame`` (mergers take ``list[DataFrame]``). A *source*
factory takes ``(spark, config)`` and returns a DataFrame. The flow
compiler resolves names through these tables — the Spark-side analogue of
Tuktu's reflective processor instantiation (Dispatcher.scala:211-239).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

Transform = Callable[[DataFrame], DataFrame]

OPERATORS: dict[str, Callable[[dict], Transform]] = {}
SOURCES: dict[str, Callable[[SparkSession, dict], DataFrame]] = {}


class UnknownOperatorError(KeyError):
    pass


def operator(name: str, *aliases: str):
    def deco(factory: Callable[[dict], Transform]):
        for n in (name, *aliases):
            OPERATORS[n] = factory
        return factory

    return deco


def source(name: str, *aliases: str):
    def deco(factory: Callable[[SparkSession, dict], DataFrame]):
        for n in (name, *aliases):
            SOURCES[n] = factory
        return factory

    return deco


def flag(config: dict, key: str, default: bool) -> bool:
    """A boolean config key: a bool, or the string true/false in any case
    (as a ``#{param}`` filled from a string gives); anything else is a
    config error, so the string "false" never reads as true."""
    value = config.get(key, default)
    if isinstance(value, bool):
        return value
    if isinstance(value, str) and value.lower() in ("true", "false"):
        return value.lower() == "true"
    raise ValueError(f"{key!r} must be true or false, got {value!r}")


def reject_removed_keys(op: str, config: dict, *keys: str) -> None:
    """Raise ValueError if ``config`` still sets a key that ``op`` no
    longer reads — a flow written for the old option would otherwise run
    silently with a behaviour other than the one it asked for."""
    for k in keys:
        if k in config:
            raise ValueError(
                f"operator {op!r}: config key {k!r} has been removed; "
                f"delete it from the flow config"
            )


def make_operator(name: str, config: dict[str, Any] | None = None) -> Transform:
    if name not in OPERATORS:
        raise UnknownOperatorError(
            f"unknown operator {name!r}; known: {sorted(OPERATORS)}"
        )
    return OPERATORS[name](config or {})


def make_source(spark: SparkSession, name: str, config: dict[str, Any] | None = None) -> DataFrame:
    if name not in SOURCES:
        raise UnknownOperatorError(f"unknown source {name!r}; known: {sorted(SOURCES)}")
    return SOURCES[name](spark, config or {})
