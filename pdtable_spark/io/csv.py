"""Read/write StarTable data from/to CSV.

Parity with reference ``pdtable/io/csv.py``:
- ``read_csv``  (io/csv.py:21-117) — stream blocks from a file/stream; ``;``
  default separator; early block filter plumbed through.
- ``write_csv`` (io/csv.py:120-207) — ``**name`` header, destinations line,
  names, units, formatted rows, ``na_rep='-'``, transposed layout,
  ``ColumnFormat`` applied.

Scale paths beyond the reference (SURVEY §2.1 S1):
- ``scan_csv`` — ONE logical table spread over MANY StarTable CSV files,
  parsed inside executors (a StarTable file holds multiple tables per file,
  so stock ``spark.read.csv`` cannot tokenize it; per-FILE parallelism is the
  right grain because block structure spans lines).  Task ``i`` of ``n``
  parses every ``n``-th file, so the scan needs no shuffle and its tasks
  differ by at most one file.  The block filter means
  non-matching tables in each file cost one top-left-cell peek — the format's
  native predicate pushdown.
- ``write_csv_distributed`` — one self-contained StarTable file per task,
  rendered by Spark SQL expressions and written by Spark's ``text`` writer:
  no row leaves the JVM (a ``display_format`` column is the one exception,
  see its docstring).  Datetimes follow the session time zone.  Its output
  directory is a valid ``scan_csv`` input.
- ``write_csv`` with a DataFrame-sized table falls back to
  ``toLocalIterator`` (constant driver memory) rather than ``collect``.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from pathlib import Path
from typing import Callable, Iterable, Optional, TextIO, Union

from pdtable_spark.auxiliary import CSV_SEP
from pdtable_spark.io._represent import (
    block_header,
    represent_col_elements,
    represent_row_elements,
)
from pdtable_spark.model.origin import (
    FilesystemLocationFile,
    InputIssueTracker,
    LocationSheet,
    NullLocationFile,
)
from pdtable_spark.parsers.blocks import BlockIterator, BlockType, parse_blocks
from pdtable_spark.parsers.fixer import ParseFixer


def read_csv(
    source: Union[str, os.PathLike, TextIO],
    sep: Optional[str] = None,
    *,
    origin: Optional[str] = None,
    location_sheet: Optional[LocationSheet] = None,
    fixer: Optional[ParseFixer] = None,
    to: str = "pdtable",
    filter: Optional[Callable[[BlockType, str], bool]] = None,
    issue_tracker: Optional[InputIssueTracker] = None,
) -> BlockIterator:
    """Stream StarTable blocks from a CSV file or text stream.

    Driver-side entry point (bundle-scale inputs).  For one big logical table
    across many files use :func:`scan_csv` (distributed).  ``to`` selects the
    block payload type: 'pdtable' (Spark-backed Table), 'parsed' (pure-Python
    ParsedTable), 'jsondata', or 'cellgrid'.
    """
    source_is_stream = hasattr(source, "readline")
    if location_sheet is None:
        if not source_is_stream:
            location_sheet = FilesystemLocationFile(
                local_path=Path(source), load_specification=origin
            ).make_location_sheet()
        elif origin is not None:
            location_sheet = NullLocationFile(str(origin)).make_location_sheet()
    if sep is None:
        sep = CSV_SEP

    with nullcontext(source) if source_is_stream else open(source) as f:
        cell_rows = (line.rstrip("\n").split(sep) for line in f)
        yield from parse_blocks(
            cell_rows,
            location_sheet=location_sheet,
            fixer=fixer,
            to=to,
            filter=filter,
            issue_tracker=issue_tracker,
        )


# ---------------------------------------------------------------------------
# Distributed scan: one logical table over many StarTable files
# ---------------------------------------------------------------------------


def scan_csv(
    spark,
    paths: Union[str, Iterable[str]],
    table_name: str,
    sep: Optional[str] = None,
    min_partitions: Optional[int] = None,
    permissive: bool = False,
    fix_counter=None,
    max_file_bytes: int = 512 * 2 ** 20,
    batch_rows: int = 1 << 16,
):
    """Parse ``table_name`` out of every StarTable CSV under ``paths`` into a
    single Spark-backed ``Table`` — the 100 TB path for S1.

    Design: per-file parallelism (block structure spans lines, so a file must
    be tokenized whole); local files are dealt out by position, task ``i``
    of ``n_part`` (``min_partitions``, else ``min(files, 2 × cores)``)
    parsing ``files[i::n_part]``; the early block filter skips non-matching
    tables at one-cell cost; the schema (column names + units) is taken on
    the driver from the first file that holds the table (a directory skips
    hidden ``_``/``.`` names), then executors emit Arrow batches of the
    parsed columns (row tuples on the Hadoop path) — no Table objects cross
    the wire.

    Memory bounds: lines stream from disk (no whole-file string) and output
    flows in ``batch_rows`` Arrow batches, so peak executor memory is
    O(target-table rows in one file).  A file above ``max_file_bytes``
    (default 512 MiB) fails fast with guidance instead of risking an
    executor OOM — StarTable CSVs are bundle-grain by design; split outsized
    exports or raise the bound explicitly alongside executor memory.

    Error accounting at scale (SURVEY §7 watch-list): with
    ``permissive=True`` illegal cells are fixed to type defaults inside
    executors (≈ Spark CSV PERMISSIVE mode) and the number of fixes is
    tallied into ``fix_counter`` — a ``spark.sparkContext.accumulator(0)``
    supplied by the caller (per-table *ordering* of fix messages is
    deliberately not reconstructed across executors; inspect single files
    driver-side with ``read_csv`` + a collecting fixer when provenance
    matters).  Default (strict) mode fails the task on the first illegal
    cell, surfacing the executor error to the driver.
    """
    from pdtable_spark.frame import schema_for_units
    from pdtable_spark.model.metadata import TableMetadata
    from pdtable_spark.table import Table

    if sep is None:
        sep = CSV_SEP
    if isinstance(paths, (str, os.PathLike)):
        path_spec = str(paths)
    else:
        path_spec = ",".join(str(p) for p in paths)

    # -- enumerate files + probe schema on the driver -------------------------
    local_paths = _expand_local_paths(path_spec)

    if local_paths:
        # streaming probe: the first file that holds the table (an empty
        # part file holds none); each file is read only up to its first match
        first = None
        for path in local_paths:
            with open(path) as f:
                first = next(_parse_named_tables_lines(f, table_name, sep, permissive), None)
            if first is not None:
                break
    else:
        first = next(
            iter(
                spark.sparkContext.wholeTextFiles(path_spec)
                .values()
                .flatMap(lambda text: _parse_named_tables(text, table_name, sep, permissive))
                .take(1)
            ),
            None,
        )
    if first is None:
        raise LookupError(f"Table '{table_name}' not found in any file of {path_spec}")
    column_names, units = first.column_names, first.units
    schema = schema_for_units(column_names, units)

    if local_paths:
        # Arrow fast path: pandas frames out of each task — columnar Arrow
        # transfer instead of per-row pickling (measured ~5× on a 600k-row
        # scan).  Task ids come from ``spark.range``: exactly n_part
        # partitions with no shuffle, where a driver-built path frame would
        # cap the partition count at defaultParallelism.
        n_part = min_partitions or min(len(local_paths), 2 * (os.cpu_count() or 8))

        def parse_files(batches):
            for pdf in batches:
                for task in pdf["id"]:
                    for path in local_paths[task::n_part]:
                        yield from _parse_file_frames(path)

        def _parse_file_frames(path):
            import pandas as pd

            size = os.path.getsize(path)
            if size > max_file_bytes:
                raise ValueError(
                    f"StarTable CSV {path!r} is {size} bytes, over scan_csv's "
                    f"max_file_bytes={max_file_bytes}: the per-file tokenizer "
                    "buffers the target table's parsed rows, so an outsized "
                    "file risks an executor OOM. Split the export into "
                    "bundle-grain files, or pass a higher max_file_bytes "
                    "sized alongside executor memory."
                )
            with open(path) as f:
                for parsed in _parse_named_tables_lines(f, table_name, sep, permissive):
                    if fix_counter is not None and parsed.n_fixes:
                        fix_counter.add(parsed.n_fixes)
                    cols = parsed.column_names
                    n = len(parsed.columns[cols[0]]) if cols else 0
                    # an empty block yields nothing: an empty frame has
                    # untyped columns that Arrow cannot cast to the schema
                    for lo in range(0, n, batch_rows):
                        yield pd.DataFrame(
                            {c: parsed.columns[c][lo : lo + batch_rows] for c in cols}
                        )

        df = spark.range(n_part, numPartitions=n_part).mapInPandas(parse_files, schema=schema)
    else:
        # generic path (hdfs:// s3:// ...): wholeTextFiles + row tuples
        files = spark.sparkContext.wholeTextFiles(path_spec, minPartitions=min_partitions)

        def rows_of(kv):
            _, text = kv
            for parsed in _parse_named_tables(text, table_name, sep, permissive):
                if fix_counter is not None and parsed.n_fixes:
                    fix_counter.add(parsed.n_fixes)
                cols = [parsed.columns[c] for c in parsed.column_names]
                yield from zip(*cols)

        df = spark.createDataFrame(files.flatMap(rows_of), schema=schema)

    meta = TableMetadata(name=table_name)
    return Table(df, metadata=meta)


def _expand_local_paths(path_spec: str):
    """Resolve a comma-joined glob spec to local files; [] when any part
    has a URI scheme (handled by the Hadoop path instead).  A directory
    expands to its files, skipping hidden names (leading ``_`` or ``.``,
    Spark's rule: ``_SUCCESS``, checksum files)."""
    import glob as _glob

    out = []
    for part in path_spec.split(","):
        p = part.strip()
        if "://" in p:
            return []
        p = p[len("file:"):] if p.startswith("file:") else p
        if os.path.isdir(p):
            matches = sorted(
                os.path.join(p, name)
                for name in os.listdir(p)
                if not name.startswith(("_", "."))
                and os.path.isfile(os.path.join(p, name))
            )
        else:
            matches = sorted(_glob.glob(p))
        out.extend(matches)
    return out


def _parse_named_tables(text: str, table_name: str, sep: str, permissive: bool = False):
    """Tokenize one StarTable CSV text, yielding ParsedTables matching name
    (each annotated with ``n_fixes`` applied while parsing it)."""
    yield from _parse_named_tables_lines(text.splitlines(), table_name, sep, permissive)


def _parse_named_tables_lines(
    line_iter, table_name: str, sep: str, permissive: bool = False
):
    """Streaming variant: tokenize lazily from an iterator of lines (e.g. an
    open file object) — the input is never materialized as one string, and
    the early block filter drops non-matching blocks at one-cell cost, so
    peak memory is O(target-table rows in the file), not O(file size).

    Pure Python — safe inside executors (no SparkSession access).
    """
    fixer = None
    if permissive:
        fixer = ParseFixer()
        fixer.stop_on_errors = False
    cell_rows = (line.rstrip("\r\n").split(sep) for line in line_iter)
    blocks = parse_blocks(
        cell_rows,
        to="parsed",
        fixer=fixer,
        filter=lambda bt, name: bt == BlockType.TABLE and name == table_name,
    )
    seen_fixes = 0
    for block_type, block in blocks:
        if block_type == BlockType.TABLE and block is not None:
            total = fixer.fixes if fixer is not None else 0
            block.n_fixes = total - seen_fixes
            seen_fixes = total
            yield block


# ---------------------------------------------------------------------------
# Write
# ---------------------------------------------------------------------------


def write_csv(
    tables,
    to: Union[str, os.PathLike, TextIO],
    sep: Optional[str] = None,
    na_rep: str = "-",
) -> None:
    """Write one or more Tables to a CSV file or text stream
    (io/csv.py:120-207).

    Rows stream through ``toLocalIterator`` — constant driver memory; Excel /
    bundle-style CSV output is inherently a driver-side, ordered format.  For
    cluster-scale single-table dumps prefer ``table.df.write.parquet``.
    """
    from pdtable_spark.table import Table

    if sep is None:
        sep = CSV_SEP
    if isinstance(tables, Table):
        tables = [tables]

    if isinstance(to, (str, os.PathLike)):
        with open(to, "w") as stream:
            for t in tables:
                _table_to_csv(t, stream, sep, na_rep)
    else:
        for t in tables:
            _table_to_csv(t, to, sep, na_rep)


def write_csv_distributed(
    table,
    out_dir: str,
    sep: Optional[str] = None,
    na_rep: str = "-",
) -> None:
    """Distributed StarTable CSV dump — the W1 scale path.  Each task writes
    one valid StarTable file, ``part-NNNNN-<uuid>-c000.txt``, that starts with
    the full ``**name`` / destinations / names / units block header.  A table
    with no rows gives one header-only file.  Partition 0's file is written
    even when that partition is empty, so a file may hold no block at all;
    :func:`scan_csv` skips it.

    The rows are rendered with Spark SQL expressions and written by Spark's
    ``text`` writer, so the data never passes through the driver or a Python
    worker.  The cell rules are those of :func:`write_csv`, with two
    differences of spelling:

    - datetimes are written in ``spark.sql.session.timeZone`` (the zone
      every executor shares), ``write_csv`` uses the driver's process zone;
    - doubles take Java's spelling, which keeps every bit but differs from
      Python's for |x| ≥ 1e7 or < 1e-3 (``1.0E7``, ``1.0E-4``) and for
      infinities (``Infinity``).  Both readers parse it.

    A column with a ``display_format`` is the one exception: it is formatted
    by Python's ``format()`` in an Arrow-batched UDF over that column alone,
    because the JVM has no equivalent of the format mini-language.

    The result directory round-trips through :func:`scan_csv` (per-file
    block structure is self-contained), so 100 TB tables never serialize
    through the driver.  Transposed layout is driver-sized by definition
    (one line per column) — use :func:`write_csv` for those.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    if sep is None:
        sep = CSV_SEP
    if table.metadata.transposed:
        raise ValueError("transposed tables are driver-sized; use write_csv")

    df = table.df
    cm = table.column_metadata
    names = table.column_names
    units = [cm[c].unit for c in names]
    header = block_header(table.name, table.destinations, sep, names=names, units=units)
    line = F.concat_ws(
        sep,
        *(
            _cell_sql(name, field.dataType, unit, cm[name].display_format, na_rep, i == 0)
            for i, (name, field, unit) in enumerate(zip(names, df.schema.fields, units))
        ),
    )
    # The header rides on the first row of each partition: the one whose
    # in-partition counter (the low 33 bits of monotonically_increasing_id)
    # is 0.  This projection feeds the text writer in the same task with
    # nothing in between (no exchange, no sort, and maxRecordsPerFile=0
    # keeps one file per task), so that row is the first line of the file.
    first_row = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1) == 0
    counted = Observation()
    (
        df.observe(counted, F.count(F.lit(1)).alias("rows"))
        .select(F.when(first_row, F.concat(F.lit(header), line)).otherwise(line).alias("value"))
        .write.option("maxRecordsPerFile", 0)
        .text(out_dir)
    )
    if counted.get["rows"] == 0:
        # no row carried the header: replace the empty output with one
        # header-only file (a JVM-only one-row frame, no Python worker)
        (
            df.sparkSession.range(1, numPartitions=1)
            .select(F.lit(header.rstrip("\n")).alias("value"))
            .write.mode("overwrite")
            .text(out_dir)
        )


def _cell_sql(name: str, dtype, unit: str, display_format, na_rep: str, first: bool):
    """One StarTable cell as a never-null string Column: the rules of
    ``represent_row_elements`` + ``_format_value`` in Spark SQL."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    col = F.col("`" + name.replace("`", "``") + "`")
    plain = (T.BooleanType, T.IntegralType, T.FloatType, T.DoubleType)
    if display_format is not None and unit != "text" and isinstance(dtype, plain):
        # the JVM has no equivalent of Python's format mini-language: one
        # Arrow-batched UDF over this column, fed the values write_csv sees
        def render(value):
            (cell,) = represent_row_elements((value,), (unit,), na_rep)
            return _format_value(cell, display_format)

        return F.udf(render, "string", useArrow=True)(col)

    if isinstance(dtype, T.BooleanType):
        value = F.when(col, F.lit("True")).when(~col, F.lit("False"))
    elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # Python's str(datetime): microseconds only when non-zero
        value = F.regexp_replace(
            F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS"), r"\.000000$", ""
        )
    elif isinstance(dtype, T.FloatType):
        value = col.cast("double").cast("string")
    else:
        value = col.cast("string")

    if unit == "text":
        if first:
            return F.when(value.isNull() | (value == ""), F.lit("-")).otherwise(value)
        return F.coalesce(value, F.lit(""))
    missing = col.isNull()
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        missing = missing | F.isnan(col)
    if unit == "onoff":
        if isinstance(dtype, T.BooleanType):
            value = F.when(col, F.lit("1")).otherwise(F.lit("0"))
        elif isinstance(dtype, T.NumericType):
            value = F.when(col == 1, F.lit("1")).when(col == 0, F.lit("0")).otherwise(value)
    return F.when(missing, F.lit(na_rep)).otherwise(value)


def _format_value(value, display_format) -> str:
    """A represented cell as text, with the column's display format applied
    to numbers."""
    if isinstance(value, str):
        return value
    if (
        display_format is not None
        and isinstance(value, (int, float))
        and not isinstance(value, bool)
    ):
        return display_format.format(value)
    return str(value)


def _table_to_csv(table, stream: TextIO, sep: str, na_rep: str) -> None:
    cm = table.column_metadata
    names = table.column_names
    units = table.units
    fmts = [cm[c].display_format for c in names]
    transposed = table.metadata.transposed
    stream.write(
        block_header(
            table.name, table.destinations, sep, transposed=transposed, names=names, units=units
        )
    )

    if transposed:
        # one output line per column: name;unit;v1;v2;...
        rows = [tuple(r) for r in table.df.toLocalIterator()]
        for i, (name, unit, f) in enumerate(zip(names, units, fmts)):
            vals = represent_col_elements((r[i] for r in rows), unit, na_rep)
            stream.write(
                name + sep + unit + sep + sep.join(_format_value(v, f) for v in vals) + "\n"
            )
        stream.write("\n")
        return

    for row in table.df.toLocalIterator():
        vals = represent_row_elements(tuple(row), units, na_rep)
        stream.write(sep.join(_format_value(v, f) for v, f in zip(vals, fmts)) + "\n")
    stream.write("\n")
