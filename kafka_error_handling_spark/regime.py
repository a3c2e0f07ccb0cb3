"""Driver-regime plumbing: how a result computed on the driver re-enters
Spark, and how a ``spark.keh.*`` regime switch is read.

Several adaptive sites finish on the driver once their input fits the
``spark.driver.maxResultSize``-derived budget (the k-core driver peel and
the connected-components union-find in ``plans/graph.py``), and a few
more build small literal frames (query-term tables, predicate lists,
collected sketches).  All of them hand their rows back through
:func:`local_frame`.

Why Arrow, not ``spark.createDataFrame(rows, ddl)``: PySpark turns a list
of Python rows into a pickled RDD plus an identity ``map`` that runs in a
Python worker (``Scan ExistingRDD`` in the plan).  Every task of that
map pays the worker's fixed start-up cost before it reads a row — about
0.13 s of CPU per task under CPython 3.11, because the
``importlib.invalidate_caches()`` in the worker's file set-up makes each
of its zipimporters re-read the ``pyspark.zip`` directory.  On a 4-core
host the identity maps of the two graph driver regimes alone cost 0.5 s
of Python-worker CPU per registry pass.  An Arrow table instead crosses
to the JVM once, on the driver, and plans as a ``LocalTableScan``: a
``LocalRelation`` that carries size statistics (so consumers'
joins may auto-broadcast it) and starts no Python worker.  Past
``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by default)
Spark parallelizes the Arrow batches as a JVM-side RDD instead — still
without a Python worker.
"""

from __future__ import annotations

from typing import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

__all__ = ["forced_regime", "local_frame"]


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a local relation.

    ``schema`` is a DDL string (``"doc_id long, w double"``) or a
    ``StructType``; ``rows`` are tuples or ``Row``s whose values line up
    with the schema's fields by position.  Names, types, nullability and
    values match ``createDataFrame``; a ``None`` in a non-nullable field
    raises ``ValueError`` as ``createDataFrame``'s schema check does.
    Values convert under pyarrow's rules (a naive ``datetime`` reads as
    UTC)."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(arrow_schema):
        col = pa.array([r[i] for r in rows], type=field.type)
        if col.null_count and not field.nullable:
            raise ValueError(f"field {field.name} is not nullable but got None")
        columns.append(col)
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


def forced_regime(spark: SparkSession, conf: str) -> bool | None:
    """Read an ``auto|true|false`` regime switch: ``None`` for auto (the
    site decides from its budget), else the forced regime.  The value is
    trimmed and case-insensitive; anything else raises ``ValueError``
    naming the conf, so a typo never silently means auto."""
    raw = spark.conf.get(conf, "auto")
    mode = str(raw).strip().lower()
    if mode == "auto":
        return None
    if mode in ("true", "false"):
        return mode == "true"
    raise ValueError(f"{conf} must be auto, true or false; got {raw!r}")
