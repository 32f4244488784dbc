"""StarTable as a native Spark data source (Spark 4 Python DataSource API):

    from pdtable_spark.io.datasource import register
    register(spark)
    df = (spark.read.format("startable")
          .option("table", "farm_animals")
          .load("/data/bundles/*.csv"))

Integration notes:

- ``load(path)`` accepts a file, directory, or glob; each matching file is
  one input partition (block structure spans lines, so a file is the
  parallelism grain — same contract as ``scan_csv``).
- Schema (column names + per-unit Spark types) is probed from the FIRST
  file on the driver; executors then stream rows for the requested table.
- This is the idiomatic-integration spelling of S1; ``scan_csv`` remains
  the tuned path (Arrow-batched ``mapInPandas``, fix accounting, memory
  bounds) — the data source trades a little throughput for composing with
  everything that speaks ``spark.read`` (SQL ``CREATE TABLE ... USING``,
  auto-registration, option plumbing).
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from pdtable_spark.io.csv import CSV_SEP, _parse_named_tables_lines


def _expand(path_spec: str) -> List[str]:
    out = []
    for part in path_spec.split(","):
        part = part.strip()
        if not part:
            continue
        if os.path.isdir(part):
            out.extend(sorted(_glob.glob(os.path.join(part, "*.csv"))))
        else:
            matches = sorted(_glob.glob(part))
            out.extend(matches if matches else [part])
    return out


class StarTableDataSource(DataSource):
    """``format("startable")`` — options: ``table`` (required), ``sep``
    (default ';'), ``permissive`` ('true'/'false', default strict)."""

    @classmethod
    def name(cls) -> str:
        return "startable"

    def _opts(self):
        table = self.options.get("table")
        if not table:
            raise ValueError(
                "format('startable') requires .option('table', <name>): a "
                "StarTable CSV holds many named tables per file"
            )
        sep = self.options.get("sep", CSV_SEP)
        permissive = self.options.get("permissive", "false").lower() == "true"
        return table, sep, permissive

    def schema(self):
        from pyspark.sql import types as T

        from pdtable_spark.frame import schema_for_units

        table, sep, permissive = self._opts()
        paths = _expand(self.options.get("path", ""))
        if not paths:
            raise FileNotFoundError(f"no files match {self.options.get('path')!r}")
        with open(paths[0]) as f:
            for parsed in _parse_named_tables_lines(f, table, sep, permissive):
                full = schema_for_units(parsed.column_names, parsed.units)
                # metadata-free copy: Spark 4.1's Python STREAMING source
                # runner fails its arrow-stream assertion when StructField
                # metadata is present (verified with a minimal reader), and
                # batch/streaming share this schema.  Unit metadata stays a
                # scan_csv/read_csv feature; the data source exposes plain
                # types.
                return T.StructType(
                    [T.StructField(f.name, f.dataType, f.nullable) for f in full.fields]
                )
        raise LookupError(f"Table {table!r} not found in first file {paths[0]!r}")

    def reader(self, schema) -> "StarTableReader":
        table, sep, permissive = self._opts()
        paths = _expand(self.options.get("path", ""))
        from pyspark.sql import SparkSession

        session = SparkSession.getActiveSession()
        enabled = (
            session is not None
            and str(
                session.conf.get("spark.sql.python.filterPushdown.enabled", "false")
            ).lower()
            == "true"
        )
        cls = StarTablePushdownReader if enabled else StarTableReader
        return cls(paths, schema, table, sep, permissive)

    def writer(self, schema, overwrite: bool) -> "StarTableWriter":
        table, sep, permissive = self._opts()
        path = self.options.get("path", "")
        if not path:
            raise ValueError("format('startable') write requires .save(<dir>)")
        units_opt = self.options.get("units")
        if units_opt is not None:
            units = units_opt.split(sep)
            if len(units) != len(schema.fields):
                raise ValueError(
                    f"option('units') lists {len(units)} units for "
                    f"{len(schema.fields)} columns"
                )
        else:
            from pdtable_spark.model.metadata import ColumnMetadata

            units = []
            for f in schema.fields:
                cm = ColumnMetadata.from_field_metadata(f.metadata)
                if cm is None:
                    cm = ColumnMetadata.from_dtype(f.dataType)
                units.append(cm.unit)
        destinations = self.options.get("destinations", "all").split()
        import uuid as _uuid

        staging = os.path.join(path, f"_staging-{_uuid.uuid4().hex}")
        return StarTableWriter(
            path, staging, table, sep,
            [f.name for f in schema.fields], units, destinations, overwrite,
        )

    def streamWriter(self, schema, overwrite: bool) -> "StarTableStreamWriter":
        # staging must be DETERMINISTIC: Spark re-instantiates the data
        # source for the driver-side commit runner, so a random staging dir
        # chosen at write-planning time would not be visible at commit
        w = self.writer(schema, overwrite)
        staging = os.path.join(w.path, "_stream-staging")
        writer = StarTableStreamWriter(
            w.path, staging, w.table, w.sep, w.names, w.units, w.destinations
        )
        # orphan-sweep horizon: must exceed THIS query's longest expected
        # stage→commit gap (a huge availableNow catch-up batch stages its
        # first shards long before the driver commit) — tunable via
        # .option("staleStagingSeconds", ...); the value is stamped into
        # this writer's shard filenames, so every query's sweep honors it
        # (no cross-query data loss from mismatched horizons)
        stale = self.options.get("stalestagingseconds") or self.options.get(
            "staleStagingSeconds"
        )
        if stale is not None:
            writer._STALE_STAGING_SECONDS = float(stale)
        return writer

    def simpleStreamReader(self, schema) -> "StarTableStreamReader":
        table, sep, permissive = self._opts()
        path = self.options.get("path", "")
        if not os.path.isdir(path):
            raise ValueError(
                "streaming format('startable') expects a landing DIRECTORY "
                f"path, got {path!r}"
            )
        if any(f.metadata for f in schema.fields):
            # same Spark 4.1 limitation the probed path strips metadata for
            # (see schema()): with field metadata present, the Python
            # streaming runner dies mid-batch with an opaque INTERNAL_ERROR
            # assertion — fail at planning time with the actual cause
            # instead.  attach_units schemas hit this naturally.
            raise ValueError(
                "streaming format('startable') cannot use a user schema "
                "carrying field metadata (Spark's Python streaming runner "
                "asserts metadata-free arrow schemas) — pass plain types or "
                "omit .schema() to probe from the first landed file"
            )
        return StarTableStreamReader(path, schema, table, sep, permissive)


def _align_to_schema(parsed, schema_names, table, permissive, path):
    """Return ``parsed``'s columns in probed-schema order.

    The schema is probed from the FIRST file, but every file parses into its
    own column order — a later file listing the same table's columns
    reordered (or with extras/gaps) must not silently bind values to the
    wrong schema fields.  Missing columns raise in strict mode and None-fill
    in permissive mode; columns absent from the schema cannot surface
    through a fixed schema and are dropped.
    """
    n_rows = len(parsed.columns[parsed.column_names[0]]) if parsed.column_names else 0
    cols = []
    for name in schema_names:
        if name in parsed.columns:
            cols.append(parsed.columns[name])
        elif permissive:
            cols.append([None] * n_rows)
        else:
            raise ValueError(
                f"{path}: table {table!r} lacks column {name!r} present in the "
                "probed schema (first file); use .option('permissive', 'true') "
                "to None-fill"
            )
    return cols


class StarTableReader(DataSourceReader):
    def __init__(self, paths, schema, table, sep, permissive):
        self.paths = paths
        self.schema_names = [f.name for f in schema.fields]
        self.table = table
        self.sep = sep
        self.permissive = permissive
        self._pushed = []

    def partitions(self) -> List[InputPartition]:
        return [InputPartition(p) for p in self.paths]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        with open(partition.value) as f:
            for parsed in _parse_named_tables_lines(
                f, self.table, self.sep, self.permissive
            ):
                cols = _align_to_schema(
                    parsed, self.schema_names, self.table, self.permissive,
                    partition.value,
                )
                if not self._pushed:
                    yield from zip(*cols)
                    continue
                idx = {c: i for i, c in enumerate(self.schema_names)}
                for row in zip(*cols):
                    if self._keep(lambda c: row[idx[c]] if c in idx else None):
                        yield row

    def _keep(self, row_get):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        for f in self._pushed:
            v = row_get(f.attribute[0])
            if isinstance(v, float) and v != v:
                # NaN: Spark's comparison ordering (NaN greatest, NaN = NaN
                # true) differs from Python's (all comparisons false) — a
                # Python-side drop here would lose rows SQL keeps.  Defer to
                # Spark's re-applied copy of the filter.
                continue
            try:
                if isinstance(f, IsNull):
                    if v is not None:
                        return False
                elif isinstance(f, IsNotNull):
                    if v is None:
                        return False
                elif v is None:
                    return False  # comparisons with NULL are never true
                elif isinstance(f, EqualTo):
                    if not v == f.value:
                        return False
                elif isinstance(f, GreaterThan):
                    if not v > f.value:
                        return False
                elif isinstance(f, GreaterThanOrEqual):
                    if not v >= f.value:
                        return False
                elif isinstance(f, LessThan):
                    if not v < f.value:
                        return False
                elif isinstance(f, LessThanOrEqual):
                    if not v <= f.value:
                        return False
                elif isinstance(f, In):
                    if v not in f.value:
                        return False
            except TypeError:
                # incomparable Python types (e.g. naive datetime vs tz-aware
                # literal): keep the row — Spark's re-applied copy of this
                # filter decides with SQL semantics
                continue
        return True


class StarTablePushdownReader(StarTableReader):
    """StarTableReader + row-level filter pushdown.  A separate class
    because Spark REJECTS any reader that merely defines pushFilters()
    unless ``spark.sql.python.filterPushdown.enabled`` is true — the
    DataSource hands this subclass out only when the session conf is on."""

    def pushFilters(self, filters):
        """Row-level pushdown: supported comparison/membership/null filters
        evaluate inside the per-file parser task, so most filtered rows
        never serialize to the JVM.  EVERY filter — consumed or not — is
        yielded back, so Spark re-applies it after the scan: Python
        comparison semantics (NaN ordering, naive-vs-aware datetimes) are
        not provably identical to SQL's, and re-application turns any
        divergence into a lost optimization instead of silently dropped
        rows.  (A filter this reader DIDN'T yield would otherwise be
        trusted as fully applied.)"""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            IsNotNull,
            IsNull,
            LessThan,
            LessThanOrEqual,
        )

        supported = (
            EqualTo, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual,
            In, IsNull, IsNotNull,
        )

        def nan_literal(f):
            # a NaN LITERAL flips comparison truth between Python (all
            # false) and SQL (NaN is greatest, NaN = NaN true): e.g.
            # `val < NaN` is TRUE in SQL for every non-NaN value but false
            # in Python — evaluating it here would drop rows Spark's
            # re-applied copy can never resurrect.  Leave such filters
            # entirely to Spark.
            vals = getattr(f, "value", None)
            vals = vals if isinstance(vals, (list, tuple, set)) else [vals]
            return any(isinstance(v, float) and v != v for v in vals)

        for f in filters:
            if isinstance(f, supported) and len(f.attribute) == 1 and not nan_literal(f):
                self._pushed.append(f)
            yield f


class StarTableStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch source over a landing directory of StarTable CSVs.

    Offsets are the sorted list of file names already ingested — bundle
    files are the natural exactly-once grain (same contract as Spark's file
    source, spelled through the Python DataSource API).  ``read`` picks up
    every new ``*.csv`` since the last offset; ``readBetweenOffsets``
    replays a committed range deterministically after restart."""

    def __init__(self, dir_path, schema, table, sep, permissive):
        self.dir = dir_path
        self.schema_names = [f.name for f in schema.fields]
        self.table = table
        self.sep = sep
        self.permissive = permissive

    def initialOffset(self) -> dict:
        return {"seen": "[]"}

    def _rows_of(self, files):
        for path in files:
            with open(path) as f:
                for parsed in _parse_named_tables_lines(
                    f, self.table, self.sep, self.permissive
                ):
                    cols = _align_to_schema(
                        parsed, self.schema_names, self.table, self.permissive,
                        path,
                    )
                    yield from zip(*cols)

    def read(self, start: dict):
        import json as _json

        seen = set(_json.loads(start["seen"]))
        present = sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir)
            if f.endswith(".csv")
        )
        new = [p for p in present if p not in seen]
        end = {"seen": _json.dumps(sorted(seen | set(new)))}
        return iter(list(self._rows_of(new))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        import json as _json

        delta = sorted(set(_json.loads(end["seen"])) - set(_json.loads(start["seen"])))
        return iter(list(self._rows_of(delta)))

    def commit(self, end: dict) -> None:
        pass


class _ShardCommit(WriterCommitMessage):
    def __init__(self, file: str, rows: int):
        self.file = file
        self.rows = rows


class StarTableWriter(DataSourceWriter):
    """``df.write.format("startable")`` — each task writes ONE self-contained
    StarTable CSV shard (full ``**name`` / destinations / names / units
    block header, same layout as ``write_csv_distributed``), staged and
    atomically promoted on job commit:

    - tasks write to a job-unique ``_staging-*`` subdirectory (a retried /
      speculative task leaves only an orphan staging file, never a partial
      part file);
    - ``commit`` moves the staged shards into place (clearing previous
      part files first under ``mode("overwrite")``) and drops a
      ``_SUCCESS`` marker; ``abort`` removes the staging directory.

    The commit protocol uses local-filesystem renames — on an object-store
    lake, prefer :func:`pdtable_spark.io.csv.write_csv_distributed`, which
    rides Spark's Hadoop committer.  Units come from ``option("units",
    "u1;u2;...")`` or the DataFrame's field metadata (dtype-inferred
    fallback); the result directory round-trips through ``scan_csv`` and
    ``format("startable")`` reads."""

    def __init__(self, path, staging, table, sep, names, units, destinations, overwrite):
        self.path = path
        self.staging = staging
        self.table = table
        self.sep = sep
        self.names = names
        self.units = units
        self.destinations = destinations
        self.overwrite = overwrite

    def write(self, iterator) -> _ShardCommit:
        return _write_startable_shard(
            iterator, self.staging, self.table, self.sep,
            self.names, self.units, self.destinations,
        )

    def commit(self, messages) -> None:
        import shutil

        os.makedirs(self.path, exist_ok=True)
        if self.overwrite:
            for name in os.listdir(self.path):
                if name.startswith("part-") and name.endswith(".csv"):
                    os.remove(os.path.join(self.path, name))
        for m in messages:
            if m is not None and m.file:
                shutil.move(
                    os.path.join(self.staging, m.file),
                    os.path.join(self.path, m.file),
                )
        shutil.rmtree(self.staging, ignore_errors=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


def _write_startable_shard(
    iterator, staging, table, sep, names, units, destinations, tag: str = ""
) -> "_ShardCommit":
    """Task-side shard writer shared by the batch and streaming writers:
    one self-contained StarTable CSV per non-empty partition, staged.
    ``tag`` is an optional filename infix (the stream writer embeds its
    own sweep horizon there — see ``_cleanup_staging``)."""
    import itertools
    import uuid as _uuid

    from pyspark import TaskContext

    from pdtable_spark.io._represent import block_header, represent_row_elements

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    first = next(iterator, None)
    if first is None:
        return _ShardCommit("", 0)
    os.makedirs(staging, exist_ok=True)
    fname = f"part-{pid:05d}-{tag}{_uuid.uuid4().hex}.csv"
    n = 0
    with open(os.path.join(staging, fname), "w") as out:
        out.write(block_header(table, destinations, sep, names=names, units=units))
        for row in itertools.chain([first], iterator):
            vals = represent_row_elements(tuple(row), units, "-")
            out.write(sep.join(str(v) for v in vals) + "\n")
            n += 1
        out.write("\n")
    return _ShardCommit(fname, n)


class StarTableStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("startable")`` — the landing-directory
    producer matching the landing-directory streaming READER: each
    micro-batch commits its shards into ``path/batch_id=N/`` (cleared
    before promotion, so Structured Streaming's batch re-delivery is
    idempotent — the exactly-once pattern of ``sinks.idempotent_parquet_sink``
    applied to the native format).  Every shard is a self-contained
    StarTable CSV; the whole directory tree round-trips through
    ``scan_csv(path + "/batch_id=*/part-*.csv")``."""

    def __init__(self, path, staging, table, sep, names, units, destinations):
        self.path = path
        self.staging = staging
        self.table = table
        self.sep = sep
        self.names = names
        self.units = units
        self.destinations = destinations

    def write(self, iterator) -> _ShardCommit:
        return _write_startable_shard(
            iterator, self.staging, self.table, self.sep,
            self.names, self.units, self.destinations,
            # embed THIS writer's sweep horizon in the filename so a
            # concurrent query sweeping the shared staging dir honors it
            tag=f"h{int(self._STALE_STAGING_SECONDS)}-",
        )

    def commit(self, messages, batchId: int) -> None:
        import shutil

        bdir = os.path.join(self.path, f"batch_id={batchId}")
        shutil.rmtree(bdir, ignore_errors=True)
        os.makedirs(bdir, exist_ok=True)
        # move ONLY this batch's message files: the staging dir is shared
        # (deterministic path — see streamWriter), so a concurrent query
        # writing to the same output must not lose its staged shards
        for m in messages:
            if m is not None and m.file:
                shutil.move(os.path.join(self.staging, m.file), os.path.join(bdir, m.file))
        self._cleanup_staging()

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.file:
                try:
                    os.remove(os.path.join(self.staging, m.file))
                except OSError:
                    pass
        self._cleanup_staging()

    #: staged shards older than their horizon are orphans of failed /
    #: speculative task attempts (their batch committed or aborted long
    #: ago).  Each writer EMBEDS its own horizon in its shard filenames
    #: (``part-NNNNN-h<seconds>-<uuid>.csv``), and every sweep honors the
    #: horizon a file carries — so raising
    #: .option("staleStagingSeconds", ...) on a slow catch-up query
    #: protects THAT query's staged shards from a concurrent query's
    #: sweep running with the default (the per-writer horizon alone would
    #: silently lose any query whose stage→commit gap exceeds another
    #: writer's setting)
    _STALE_STAGING_SECONDS = 3600.0

    def _cleanup_staging(self) -> None:
        import re
        import time

        # sweep orphaned shards (failed / speculative attempts never appear
        # in commit messages, so rmdir-if-empty alone would let them
        # accumulate forever in the shared staging dir); each file's age is
        # judged against the horizon ITS OWN writer stamped into the name,
        # so a concurrent query's freshly-staged (or deliberately
        # long-horizon) shards stay safe no matter who sweeps
        pat = re.compile(r"-h(\d+)-")
        now = time.time()
        try:
            with os.scandir(self.staging) as it:
                for entry in it:
                    try:
                        m = pat.search(entry.name)
                        horizon = float(m.group(1)) if m else self._STALE_STAGING_SECONDS
                        if entry.is_file() and entry.stat().st_mtime < now - horizon:
                            os.remove(entry.path)
                    except OSError:
                        pass
        except OSError:
            pass
        try:
            os.rmdir(self.staging)  # only when empty — shared across queries
        except OSError:
            pass


def register(spark) -> None:
    """Register the 'startable' format on this session (idempotent)."""
    spark.dataSource.register(StarTableDataSource)
