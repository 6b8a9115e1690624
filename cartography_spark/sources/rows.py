"""Row-oriented input: the reference ingests ``list[dict]`` batches from JSON
APIs (cartography/client/core/tx.py:637-698, 10k-row batches). In Spark a
whole batch is one DataFrame; schema is supplied explicitly so absent dict
keys become typed nulls (same semantics as Cypher's missing-property null).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def rows_to_df(spark: SparkSession, rows: Iterable[Mapping[str, Any]], schema: StructType) -> DataFrame:
    """Create a DataFrame from dict rows with an explicit schema.

    Missing keys -> null (matches the reference's tolerance of sparse dicts);
    extra keys are dropped (the reference only SETs declared properties,
    cartography/graph/querybuilder.py:1266-1279).
    """
    names = set(schema.fieldNames())
    cleaned = [{k: v for k, v in r.items() if k in names} for r in rows]
    return spark.createDataFrame(cleaned, schema)


def local_frame(spark: SparkSession, rows: Sequence[Sequence[Any]], schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-side tuples that Spark plans as a JVM
    ``LocalRelation``; ``schema`` is a StructType or a DDL string.

    ``spark.createDataFrame(<list>)`` plans a ``LogicalRDD`` over a Python
    RDD, so its first action starts the Python worker daemon just to hand
    over the rows. An Arrow table goes to the JVM from the driver instead,
    so metadata-scale frames (rule rollups, drift states) need no Python
    worker. Zero rows give an empty frame of the same schema.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)
