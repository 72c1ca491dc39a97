"""Operator registry.

Every operator is a pure function
``(spark, inputs: list[DataFrame], config: dict, context: dict) ->
DataFrame | dict[str, DataFrame]`` registered under the names the pipeline
spec uses. Multi-output operators return a dict of named ports.

The inventory mirrors SURVEY.md §2 (the reference's SSIS component set) plus
the NEW scale operators (§2.12).
"""

from __future__ import annotations

from typing import Any, Callable, Union

from pyspark.sql import DataFrame, SparkSession

OpResult = Union[DataFrame, dict[str, DataFrame]]
OpFn = Callable[[SparkSession, list[DataFrame], dict[str, Any], dict[str, Any]], OpResult]

_REGISTRY: dict[str, OpFn] = {}


def operator(name: str) -> Callable[[OpFn], OpFn]:
    def deco(fn: OpFn) -> OpFn:
        if name in _REGISTRY:
            raise ValueError(f"operator {name!r} already registered")
        _REGISTRY[name] = fn
        return fn

    return deco


def get_operator(name: str) -> OpFn:
    if name not in _REGISTRY:
        raise KeyError(f"unknown operator {name!r}; known: {sorted(_REGISTRY)}")
    return _REGISTRY[name]


def list_operators() -> list[str]:
    return sorted(_REGISTRY)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A typed driver-built frame (``rows``: tuples in ``schema`` field
    order; ``schema``: StructType or DDL string) planned as a JVM
    ``LocalRelation``. The rows go through a pyarrow Table typed from
    the Spark schema, never ``createDataFrame(list)`` — that plans a
    Python-backed ``LogicalRDD`` whose every scan starts Python worker
    tasks (NOTES invariant 23)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [
            pa.array(list(c), type=to_arrow_type(f.dataType))
            for f, c in zip(schema.fields, cols)
        ],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema)


# Import all operator modules so their @operator registrations run.
from ssis_to_pyspark_agent_spark.operators import (  # noqa: E402,F401
    agg,
    clustering,
    dedup,
    joins,
    joins_advanced,
    maintenance,
    multimodal,
    reshape,
    routing,
    rowlevel,
    scd,
    script,
    setops,
    similarity,
    sort,
    sources_sinks,
    streaming_ops,
    text,
)
