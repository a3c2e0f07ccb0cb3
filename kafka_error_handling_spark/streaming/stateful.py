"""Stateful processing under error-capture decoration (SURVEY.md §2.7
"stateful ops").

The reference's capturing/logging processors forward the wrapped supplier's
``stores()`` so user state keeps working under decoration
(``ErrorCapturingProcessor.java:140-143``, ``ErrorLoggingProcessor.java:134-137``).
The Spark analog: wrap the user's per-record stateful function inside
``applyInPandasWithState`` so that

- the user function sees the **same GroupState handle** it would see
  undecorated (state reads/writes pass straight through), and
- a per-record exception is captured into the error column (or rethrown if
  recoverable) **without poisoning the group's state or the batch**.

Each record goes through the shared per-record loop
(:func:`..operators.loop.run_records`) under the capture family's policy,
as ``capture_process`` does, after its group is read back into Arrow under
the input schema so that it reaches ``fn`` under the same input contract
(:func:`..operators.loop.py_columns`).

Scale: state lives in the state store keyed by group — per-key partition
parallel, no driver involvement.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Optional, Tuple

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from ..model import ErrorFilter, processed_schema
from ..operators.capture import capture_policy, record_value
from ..operators.loop import py_columns, run_records

__all__ = ["capture_stateful_process"]


def capture_stateful_process(
    df: DataFrame,
    key_cols: list,
    fn: Callable[[tuple, dict, GroupState], Optional[Iterable[dict]]],
    result_type: StructType,
    state_type: StructType,
    error_filter: Optional[ErrorFilter] = None,
    timeout: str = GroupStateTimeout.NoTimeout,
    output_mode: str = "append",
    input_value_col: Optional[str] = None,
) -> DataFrame:
    """``ErrorCapturingProcessor`` for stateful shapes.

    ``fn(key_tuple, row_dict, state)`` may read/update/remove ``state`` and
    forward 0..n result dicts.  Output rows: key columns + ``result``
    (nullable ``result_type`` struct) + ``error`` (nullable) — the
    ``ProcessedKeyValue`` contract with state in the loop.  ``input_value``
    renders ``input_value_col``, or the whole row when it is not given.

    ``applyInPandasWithState`` is the only API that carries a
    ``GroupState`` (there is no Arrow variant), so each group arrives as
    pandas and is read back through Arrow under ``df``'s schema: a row
    reaches ``fn`` as a dict under the input contract of the other capture
    shapes (NULL as ``None``, an integer as ``int``, a timestamp as a naive
    session-zone ``datetime``, an array as a ``list``, a map as a ``dict``,
    at any depth).  Only a
    floating-point column cannot tell NULL from NaN on this path: pandas
    holds both as NaN, and both reach ``fn`` as ``None``.
    """
    if input_value_col:
        on_error = capture_policy(error_filter, record_value(input_value_col))
    else:  # the whole row: ``(row_dict,)``'s last argument
        on_error = capture_policy(error_filter)
    out_schema = StructType([df.schema[c] for c in key_cols] + processed_schema(result_type).fields)
    in_schema = to_arrow_schema(df.schema)
    names = list(df.columns)

    def _proc(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def forwards(rec):
            return list(fn(key, rec, state) or ())

        recs = [
            (dict(zip(names, row)),)
            for pdf in pdfs
            for row in zip(*py_columns(
                pa.RecordBatch.from_pandas(pdf, schema=in_schema, preserve_index=False).columns
            ))
        ]
        results, errors = run_records(forwards, recs, on_error)
        out_rows = [
            (*key, fwd, err)
            for fwds, err in zip(results, errors)
            for fwd in ([None] if err is not None else fwds)
        ]
        yield pd.DataFrame(out_rows, columns=key_cols + ["result", "error"])

    return df.groupBy(*key_cols).applyInPandasWithState(
        _proc, out_schema, state_type, output_mode, timeout
    )
