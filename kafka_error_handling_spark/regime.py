"""Driver-regime plumbing: how an adaptive site reads a small frame onto
the driver, how its result re-enters Spark, and how a ``spark.keh.*``
regime switch is read.

Several adaptive sites finish on the driver once their input fits the
``spark.driver.maxResultSize``-derived budget (the k-core driver peel and
the connected-components driver labeling in ``plans/graph.py``), and a
few more build small literal frames (query-term tables, predicate lists,
collected sketches).  Both directions go through Arrow: the graph sites
read their edges with :func:`bounded_collect` and hand their rows back
through :func:`local_frame`.

Reading: ``take`` or ``collect`` unpickles every row into a Python
``Row``, about 3.5 µs a row (the graph regimes' edge list in the
``registry_regimes`` benchmark has 68k edges).  :func:`bounded_collect`
probes with ``df.offset(budget).take(1)``, which keeps ``take``'s incremental
partition scale-up (one task on a 200-partition frame) and hands Python
at most one row; only a frame under budget is then read, once, with
``toArrow()``.  ``df.limit(budget + 1).toArrow()`` is not the probe:
it plans through ``CollectLimit``'s execute path, which runs every
partition and then a single-partition shuffle — 201 tasks where the
``take`` probe runs 1 on the same 200-partition frame, and over budget
it would funnel up to budget × partitions rows into one reducer.  When
the frame is a memoized artifact (``memo.stamped_memo``), the outcome —
the table or "over budget" — is kept on its memo entry per budget, so
the k-core and CC sites share one probe and one read per entry instead
of paying both on every query.

Writing: PySpark turns ``spark.createDataFrame(rows, ddl)`` over a list
of Python rows into a pickled RDD plus an identity ``map`` that runs in a
Python worker (``Scan ExistingRDD`` in the plan).  Every task of that
map starts a Python task, and in a worker that has not imported this
package (so runs without :mod:`.worker_imports`) it first pays the
per-task import-cache invalidation — 0.13–0.23 s of CPU under
CPython 3.11, the worker's zipimporters re-reading ``pyspark.zip`` and
the Spark jars.  On a 4-core host the identity maps of the two graph
driver regimes alone cost 0.5 s of Python-worker CPU per registry
pass.  An Arrow table instead crosses
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

from .memo import remembered

__all__ = ["DECISIONS", "bounded_collect", "forced_regime", "local_frame"]


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


# One ``(site, choice, rows_seen, budget)`` entry per bounded_collect call,
# oldest first.  ``choice`` is "driver" (the frame fit and was collected;
# rows_seen is its row count) or "distributed" (over budget; rows_seen is
# budget + 1, the most the probe looked at).  ``budget`` is None for a
# forced read.  Filled from what the call already knows, so logging adds
# no job.  Process-local and never reset; readers snapshot-and-diff, as
# with ``memo.STATS``.
DECISIONS: list[tuple[str, str, int, int | None]] = []


def bounded_collect(df: DataFrame, max_rows: int | None, site: str) -> pa.Table | None:
    """``df`` as an Arrow table if it has at most ``max_rows`` rows, else
    ``None``; the choice is logged in :data:`DECISIONS` under ``site``.
    ``max_rows=None`` reads ``df`` with no budget and no probe.

    The probe is ``df.offset(max_rows).take(1)``: ``take`` scans one
    partition first and scales up only while it still lacks rows, the
    offset rows stay in the JVM, and at most one row reaches Python.
    Under budget the frame is then read once more with ``toArrow()``, so
    ``df`` should be deterministic (a checkpointed or memoized frame).

    When ``df`` is the value of a live ``memo.stamped_memo`` entry, the
    outcome (table or over budget) is kept on that entry per
    ``max_rows`` (:func:`~kafka_error_handling_spark.memo.remembered`):
    later calls with the same budget run no Spark job and still log."""

    def read():
        if max_rows is not None and df.offset(max_rows).take(1):
            return None
        return df.toArrow()

    table = remembered(df, ("bounded_collect", max_rows), read)
    if table is None:
        DECISIONS.append((site, "distributed", max_rows + 1, max_rows))
    else:
        DECISIONS.append((site, "driver", table.num_rows, max_rows))
    return table


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
