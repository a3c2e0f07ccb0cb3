"""The one per-record loop behind the capture, log and describe families.

Every decorator in ``operators/`` calls the wrapped function through
:func:`run_records`: once per record, inside one ``try``.  A failure goes
to the family's ``on_error(args, exc)`` policy, which re-raises or returns
the record's error payload — the per-record wrapper of the reference
(``ErrorCapturingValueMapper.java:86-95``, ``ErrorLoggingValueMapper.java:89-100``,
``ErrorDescribingValueMapper.java:63-69``).  Exceptions that are not
``Exception`` (``KeyboardInterrupt``, ``SystemExit``, … — the analog of Java
``Error``) are never caught.

One Arrow transport feeds the loop, with no pandas in between:
:func:`column_udf`, a nondeterministic ``arrow_udf``.  The map / flatMap
shapes call it on their value (and key) columns; :func:`process_records`
calls it on every input column and lets the JVM explode the 0..n
forwards of each record.

Input contract, the same for every family (the reference hands nulls
through as themselves, ``SuccessValue.java:49-51``): SQL NULL reaches the
function as ``None`` and NaN as ``nan``, an integer as ``int``
(:func:`_pylist`); a timestamp as a naive ``datetime`` holding its
wall-clock time in the session time zone; a map as a ``dict`` — at any
depth of a struct, array or map (:func:`_mend`).  On the way out
:func:`to_arrow` reads a naive ``datetime`` the same way, and a struct
result may be a dict (by field name) or a tuple (by position).
"""

from __future__ import annotations

from typing import Any, Callable, Optional, Sequence

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, DataType, StructType, TimestampType

from ..model import processed_schema

# Column names of the ProcessedValue analog.
RESULT_COL = "result"
ERROR_COL = "error"
# The processor transport's bound result column.
PROCESSED_COL = "__keh_processed"

OnError = Callable[[tuple, Exception], Optional[dict]]


def run_records(fn: Callable[..., Any], rows: Sequence[tuple], on_error: OnError):
    """``fn(*args)`` once per row → ``(results, errors)``; a failed row has
    result ``None`` and error ``on_error(args, exc)`` (which may raise)."""
    results = [None] * len(rows)
    errors = [None] * len(rows)
    for i, args in enumerate(rows):
        try:
            results[i] = fn(*args)
        except Exception as exc:  # noqa: BLE001 — Throwables pass through untouched
            errors[i] = on_error(args, exc)
    return results, errors


def call_once(fn: Callable[..., Any], args: tuple, on_error: OnError) -> Any:
    """One call through the loop, for the plain-callable wrappers (their
    policies always raise, so a returned value is the function's)."""
    return run_records(fn, [args], on_error)[0][0]


def _pylist(a: pa.Array) -> list:
    """``a.to_pylist()``, through numpy for string, integer, float and
    boolean arrays: on pyarrow 16.1 ``to_pylist`` boxes one Arrow scalar per
    value (0.46 µs per int64, 1.0 µs per string, against 0.02 / 0.14 µs).
    numpy turns a NULL string or boolean into ``None`` but a NULL number
    into NaN, so numbers with NULLs are filled and masked back."""
    t = a.type
    numeric = pa.types.is_integer(t) or pa.types.is_floating(t)
    text = pa.types.is_string(t) or pa.types.is_large_string(t)
    if not (numeric or text or pa.types.is_boolean(t)):
        return a.to_pylist()
    if not (numeric and a.null_count):
        return a.to_numpy(zero_copy_only=False).tolist()
    valid = a.is_valid().to_numpy(zero_copy_only=False).tolist()
    return [v if ok else None for v, ok in zip(a.fill_null(0).to_numpy().tolist(), valid)]


def _mend(t: pa.DataType) -> Optional[Callable[[Any], Any]]:
    """For a type nested in a column, a function bringing one non-NULL
    ``to_pylist`` value under the input contract: a zoned timestamp to
    its naive wall-clock time, a map from a list of pairs to a ``dict``.
    ``None`` when ``to_pylist`` already hands the value over as it is."""
    if pa.types.is_timestamp(t) and t.tz is not None:
        return lambda v: v.replace(tzinfo=None)
    if pa.types.is_map(t):
        key, item = _mend(t.key_type), _mend(t.item_type)
        return lambda m: {_apply(key, k): _apply(item, v) for k, v in m}
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        item = _mend(t.value_type)
        if item is not None:
            return lambda xs: [_apply(item, x) for x in xs]
    if pa.types.is_struct(t):
        fields = [(f.name, m) for f in t if (m := _mend(f.type)) is not None]
        if fields:
            return lambda d: {**d, **{n: _apply(m, d[n]) for n, m in fields}}
    return None


def _apply(mend: Optional[Callable[[Any], Any]], v: Any) -> Any:
    return v if mend is None or v is None else mend(v)


def py_columns(arrays: Sequence[pa.Array]) -> list:
    """Arrow columns → Python lists under the input contract above."""
    out = []
    for a in arrays:
        if pa.types.is_timestamp(a.type) and a.type.tz is not None:
            a = pc.local_timestamp(a)
        values = _pylist(a)
        mend = _mend(a.type)
        out.append(values if mend is None else [_apply(mend, v) for v in values])
    return out


def to_arrow(values: list, dtype: DataType, tz: str) -> pa.Array:
    """Python results → the Arrow array Spark expects for ``dtype``."""
    if isinstance(dtype, StructType):
        columns = [
            [None if v is None else v.get(f.name) if isinstance(v, dict) else v[i] for v in values]
            for i, f in enumerate(dtype.fields)
        ]
        return _struct(columns, dtype, tz, mask=pa.array([v is None for v in values], pa.bool_()))
    if isinstance(dtype, ArrayType):
        offsets, flat = [0], []
        for v in values:
            if v is not None:
                flat.extend(v)
            offsets.append(len(flat))
        return pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()),
            to_arrow(flat, dtype.elementType, tz),
            mask=pa.array([v is None for v in values], pa.bool_()),
        )
    if isinstance(dtype, TimestampType):
        wall = pa.array(values, pa.timestamp("us"))
        local = pc.assume_timezone(wall, tz, ambiguous="earliest", nonexistent="earliest")
        return local.cast(to_arrow_type(dtype))
    return pa.array(values, to_arrow_type(dtype))


def _struct(columns: list, dtype: StructType, tz: str, mask=None) -> pa.StructArray:
    children = [to_arrow(c, f.dataType, tz) for c, f in zip(columns, dtype.fields)]
    return pa.StructArray.from_arrays(children, fields=list(to_arrow_type(dtype)), mask=mask)


def column_udf(
    fn: Callable[..., Any],
    result_type: DataType,
    on_error: OnError,
    with_error: bool = True,
):
    """The map/flatMap transport: a nondeterministic ``arrow_udf`` over the
    input columns returning ``struct<result, error>`` (or just the result
    when ``with_error`` is false).  Nondeterministic so Catalyst never
    duplicates it into both branches of a split: the function runs exactly
    once per record (SURVEY.md §4)."""
    if not callable(fn):
        # build-time contract: the reference throws NPE from the factory on
        # null args (ErrorCapturingKeyValueMapperTopologyTest.java:79-91)
        raise TypeError(f"wrapped function must be callable, got {type(fn).__name__}")
    if isinstance(result_type, str):
        result_type = DataType.fromDDL(result_type)
    out_type = processed_schema(result_type) if with_error else result_type
    tz = SparkSession.active().conf.get("spark.sql.session.timeZone")

    def _records(*cols: pa.Array) -> pa.Array:
        results, errors = run_records(fn, list(zip(*py_columns(cols))), on_error)
        if with_error:
            return _struct([results, errors], out_type, tz)
        return to_arrow(results, out_type, tz)

    return arrow_udf(_records, out_type).asNondeterministic()


def process_records(
    df: DataFrame,
    processor: Callable[[dict], Any],
    result_type: DataType,
    on_error: OnError,
    pass_through: Optional[Sequence[str]] = None,
    with_error: bool = True,
) -> DataFrame:
    """The processor shapes over :func:`column_udf`: ``processor(row_dict)``
    once per row, its 0..n forwards (the analog of ``context.forward``,
    ``ErrorCapturingApiProcessorContext.java:31-59``) listed in an
    ``array<result_type>``; ``on_error`` receives ``(row_dict,)``.  Output:
    the ``pass_through`` columns (default: all) + :data:`PROCESSED_COL`,
    ``struct<result: array, error>`` (just the array when ``with_error`` is
    false), bound in one projection for the family's JVM explode."""
    if PROCESSED_COL in df.columns:
        raise ValueError(f"input must not already contain {PROCESSED_COL}")
    names = list(df.columns)

    def forwards(*values):
        return list(processor(dict(zip(names, values))) or ())

    def on_record_error(values, exc):
        return on_error((dict(zip(names, values)),), exc)

    udf = column_udf(forwards, ArrayType(result_type), on_record_error, with_error)
    keep = names if pass_through is None else list(pass_through)
    return df.select(*keep, udf(*[df[c] for c in names]).alias(PROCESSED_COL))
