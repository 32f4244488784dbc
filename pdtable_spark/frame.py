"""DataFrame-level helpers: materialize parsed tables into Spark, carry unit
metadata in ``StructField.metadata``, and merge metadata across operations.

Parity with reference ``pdtable/frame.py``:
- ``make_table_dataframe``   (frame.py:214-259) → :func:`attach_units`
- ``_combine_tables`` unit cross-check (frame.py:128-147)
  → :func:`check_units_compatible` raising ``InvalidTableCombineError``
- degrade-to-plain-df behavior (frame.py:150-157): raw DataFrame ops keep
  field-level unit metadata through projections automatically, but lose
  table-level metadata — exactly the reference's documented semantics.

The reference does this via a pandas ``__finalize__`` hook; Spark DataFrames
are immutable, so each wrapper op instead computes result metadata explicitly
(simpler and race-free — SURVEY §3.3).
"""

from __future__ import annotations

import datetime as _dt
from typing import Dict, Iterable, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pdtable_spark.model.metadata import (
    FIELD_METADATA_KEY,
    ColumnMetadata,
    TableMetadata,
    spark_type_for_unit,
)
from pdtable_spark.model.origin import TableOrigin


class UnknownOperationError(Exception):
    """Reference frame.py:62-64."""


class InvalidTableCombineError(Exception):
    """Unit/metadata conflict when combining tables (frame.py:66-68)."""


def active_spark(spark: Optional[SparkSession] = None) -> SparkSession:
    if spark is not None:
        return spark
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "No active SparkSession; pass spark= explicitly or create one first"
        )
    return s


# ---------------------------------------------------------------------------
# Schema construction & metadata plumbing
# ---------------------------------------------------------------------------


def schema_for_units(column_names: Sequence[str], units: Sequence[str]) -> T.StructType:
    """Unit-indicator-driven schema (§1.2): text→string, onoff→boolean,
    datetime→timestamp, everything else→double, with the unit serialized
    into ``StructField.metadata``."""
    fields = [
        T.StructField(
            name,
            spark_type_for_unit(unit),
            nullable=True,
            metadata=ColumnMetadata(unit=unit).to_field_metadata(),
        )
        for name, unit in zip(column_names, units)
    ]
    return T.StructType(fields)


def column_metadata_from_df(df: DataFrame) -> Dict[str, ColumnMetadata]:
    """Recover per-column metadata from StructField.metadata; columns without
    stored metadata get unit inferred from their Spark type
    (table_metadata.py:123-128 analog)."""
    out: Dict[str, ColumnMetadata] = {}
    for f in df.schema.fields:
        cm = ColumnMetadata.from_field_metadata(f.metadata)
        if cm is None:
            cm = ColumnMetadata.from_dtype(f.dataType)
        out[f.name] = cm
    return out


def attach_units(
    df: DataFrame,
    units: Optional[Iterable[str]] = None,
    unit_map: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Write unit metadata into the DataFrame's fields (make_table_dataframe
    analog, frame.py:214-259).  ``units`` is positional over df.columns;
    ``unit_map`` is by name; unspecified columns get dtype-inferred units."""
    resolved: Dict[str, str] = {}
    if units is not None:
        units = list(units)
        for name, unit in zip(df.columns, units):
            if unit is not None:
                resolved[name] = unit
    if unit_map:
        resolved.update(unit_map)
    for f in df.schema.fields:
        unit = resolved.get(f.name)
        if unit is not None:
            cm = ColumnMetadata(unit=unit)
        else:
            # unspecified columns KEEP their existing metadata (a derived
            # table must not relabel untouched columns); dtype inference is
            # the fallback for genuinely metadata-less fields
            cm = ColumnMetadata.from_field_metadata(f.metadata)
            if cm is None:
                cm = ColumnMetadata.from_dtype(f.dataType)
        df = df.withMetadata(f.name, cm.to_field_metadata())
    return df


def arrow_frame(
    spark: SparkSession, columns: Sequence[Sequence], schema: T.StructType
) -> DataFrame:
    """Driver-held column lists (one per field of ``schema``) → DataFrame,
    shipped to the JVM as one ``pyarrow.Table``.

    The result is a JVM-only ``LocalTableScan`` that keeps the schema's
    field metadata: no row is verified and pickled one by one in Python, and
    no later action starts a Python worker (the pickled-row
    ``createDataFrame(list, schema)`` path backs the frame with a Python RDD
    instead).  The ``pyarrow.Table`` path converts through Arrow whatever
    the session's arrow conf says.

    Naive datetimes keep their wall-clock value: they are converted with
    ``TimestampType().toInternal`` (the process time zone, the rule of the
    pickled path) and shipped as UTC instants.  Left to itself Arrow would
    read them in the session time zone instead.  A value Arrow cannot store
    in its field's type raises; there is no fallback path.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arrays = []
    for values, field in zip(columns, schema.fields):
        dtype = field.dataType
        arrow_type = to_arrow_type(dtype)
        if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
            values = [None if v is None else dtype.toInternal(v) for v in values]
        if pa.types.is_integer(arrow_type):
            # a typed pa.array truncates 3.5 to 3; a safe cast refuses it
            arrays.append(pa.array(values).cast(arrow_type))
        else:
            arrays.append(pa.array(values, type=arrow_type))
    table = pa.Table.from_arrays(arrays, names=schema.names)
    return spark.createDataFrame(table, schema=schema)


def table_from_parsed(parsed, spark: Optional[SparkSession] = None):
    """ParsedTable (pure Python) → Spark-backed Table.

    The Spark analog of blocks.py:224-241: the parsed columns go through
    :func:`arrow_frame` with a unit-derived schema, instead of
    ``pd.DataFrame`` + ``ComplementaryTableInfo``, so the Table is a
    JVM-local relation carrying its units in ``StructField.metadata``.
    """
    from pdtable_spark.table import Table

    spark = active_spark(spark)
    schema = schema_for_units(parsed.column_names, parsed.units)
    df = arrow_frame(spark, [parsed.columns[c] for c in parsed.column_names], schema)
    meta = TableMetadata(
        name=parsed.name,
        destinations=set(parsed.destinations),
        origin=parsed.origin or TableOrigin(),
        transposed=parsed.transposed,
        strict_types=parsed.strict_types,
    )
    return Table(df, metadata=meta)


# ---------------------------------------------------------------------------
# Metadata merge rules for combining tables
# ---------------------------------------------------------------------------


def check_units_compatible(
    left: Dict[str, ColumnMetadata],
    right: Dict[str, ColumnMetadata],
    columns: Optional[Iterable[str]] = None,
    operation: str = "combine",
) -> Dict[str, ColumnMetadata]:
    """Cross-check units of shared columns; conflict raises
    ``InvalidTableCombineError`` (frame.py:128-147).  Returns the merged
    column-metadata dict (left wins on display hints)."""
    merged: Dict[str, ColumnMetadata] = {}
    shared = set(left) & set(right)
    if columns is not None:
        shared &= set(columns)
    for name in shared:
        lu, ru = left[name].unit, right[name].unit
        if lu != ru:
            raise InvalidTableCombineError(
                f"Unit conflict in {operation} for column '{name}': "
                f"'{lu}' != '{ru}'"
            )
    merged = {name: cm.copy() for name, cm in right.items()}
    merged.update({name: cm.copy() for name, cm in left.items()})  # left wins
    return merged


def derived_origin(operation: str, parents: Sequence[TableOrigin]) -> TableOrigin:
    """Branch lineage node for a derived table (frame.py:108-112)."""
    return TableOrigin(operation=f"Spark {operation}", parents=list(parents))


# ---------------------------------------------------------------------------
# Value coercion when building rows driver-side
# ---------------------------------------------------------------------------


def coerce_value_for_unit(value, unit: str):
    """Coerce a Python value to the storage type of its unit column, mirroring
    the parse rules (§1.2) for driver-side row construction (append_row,
    json_data_to_table)."""
    if value is None:
        return None
    if unit == "text":
        return str(value)
    if unit == "onoff":
        return bool(value)
    if unit == "datetime":
        if isinstance(value, _dt.datetime):
            return value
        if isinstance(value, _dt.date):
            return _dt.datetime(value.year, value.month, value.day)
        from pdtable_spark.parsers.columns import _parse_one_datetime

        return _parse_one_datetime(str(value))
    if isinstance(value, float) and value != value:  # NaN → null
        return None
    return float(value)
