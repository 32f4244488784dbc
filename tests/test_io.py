"""CSV / JSON I/O tests: golden-string writes, round-trips, distributed scan."""

import io

import pytest
from pyspark.sql import functions as F

from pdtable_spark import Table, read_csv, write_csv
from pdtable_spark.io.csv import scan_csv
from pdtable_spark.io.json import json_data_to_table, table_to_json_data
from pdtable_spark.parsers.blocks import BlockType
from pdtable_spark.store import TableBundle

CSV = """**places;
all
place;distance;is_hot
text;km;onoff
home;0.0;1
work;14.5;0
mars;-;0

**other;
all
x
-
1
2

"""


def test_read_csv_stream(spark):
    blocks = list(read_csv(io.StringIO(CSV)))
    tables = [b for bt, b in blocks if bt == BlockType.TABLE]
    assert [t.name for t in tables] == ["places", "other"]
    t = tables[0]
    assert t.units == ["text", "km", "onoff"]
    assert t.count() == 3
    # missing numeric is Spark null
    assert t.df.filter(F.col("distance").isNull()).count() == 1


def test_write_csv_golden(spark):
    blocks = read_csv(io.StringIO(CSV), filter=lambda bt, n: n == "places")
    bundle = TableBundle(blocks)
    out = io.StringIO()
    write_csv(bundle["places"], out)
    expected = (
        "**places;\n"
        "all\n"
        "place;distance;is_hot\n"
        "text;km;onoff\n"
        "home;0.0;1\n"
        "work;14.5;0\n"
        "mars;-;0\n"
        "\n"
    )
    assert out.getvalue() == expected


def test_csv_roundtrip_equality(spark):
    blocks = read_csv(io.StringIO(CSV))
    bundle = TableBundle(blocks)
    out = io.StringIO()
    write_csv([bundle["places"], bundle["other"]], out)
    out.seek(0)
    bundle2 = TableBundle(read_csv(out))
    assert bundle["places"].equals(bundle2["places"])
    assert bundle["other"].equals(bundle2["other"])


def test_write_transposed(spark):
    t_csv = "**flipped*;\nall\nnumbers;-;1;2;3\ntexts;text;a;b;c\n\n"
    bundle = TableBundle(read_csv(io.StringIO(t_csv)))
    t = bundle["flipped"]
    assert t.metadata.transposed
    out = io.StringIO()
    write_csv(t, out)
    assert out.getvalue() == "**flipped*;\nall\nnumbers;-;1.0;2.0;3.0\ntexts;text;a;b;c\n\n"


def test_display_format_applied_on_write(spark):
    from pdtable_spark.model.metadata import ColumnFormat

    bundle = TableBundle(read_csv(io.StringIO(CSV), filter=lambda bt, n: n == "places"))
    t = bundle["places"]
    cm = t.column_metadata["distance"]
    cm.display_format = ColumnFormat(2)
    t._df = t.df.withMetadata("distance", cm.to_field_metadata())
    out = io.StringIO()
    write_csv(t, out)
    assert "14.50" in out.getvalue()


def test_json_roundtrip(spark):
    bundle = TableBundle(read_csv(io.StringIO(CSV)))
    t = bundle["places"]
    jd = table_to_json_data(t)
    assert jd["columns"]["distance"]["unit"] == "km"
    assert jd["columns"]["distance"]["values"] == [0.0, 14.5, None]
    t2 = json_data_to_table(jd, spark=spark)
    assert t.equals(t2)


def test_scan_csv_distributed(spark, tmp_path):
    # one logical table spread over several StarTable files
    for i in range(3):
        (tmp_path / f"part{i}.csv").write_text(
            "**measurements;\nall\nrun;value\n-;kg\n"
            + "".join(f"{i * 10 + j};{j}.5\n" for j in range(4))
            + "\n**noise;\nall\nz\n-\n9\n\n"
        )
    t = scan_csv(spark, str(tmp_path / "*.csv"), "measurements")
    assert t.count() == 12
    assert t.units == ["-", "kg"]
    assert t.df.agg(F.sum("value")).collect()[0][0] == pytest.approx(3 * (0.5 + 1.5 + 2.5 + 3.5))


def test_scan_csv_file_size_bound(spark, tmp_path):
    """A file over max_file_bytes fails fast with actionable guidance
    instead of risking an executor OOM."""
    (tmp_path / "big.csv").write_text(
        "**m;\nall\nrun;value\n-;kg\n" + "".join(f"{j};{j}.5\n" for j in range(200)) + "\n"
    )
    t = scan_csv(spark, str(tmp_path / "big.csv"), "m", max_file_bytes=100)
    with pytest.raises(Exception, match="max_file_bytes"):
        t.count()


def test_scan_csv_batch_rows_chunking(spark, tmp_path):
    """Small Arrow batches (batch_rows) must not change the parsed result —
    a file larger than the batch bound parses across several batches."""
    (tmp_path / "chunks.csv").write_text(
        "**m;\nall\nrun;value\n-;kg\n"
        + "".join(f"{j};{j}.5\n" for j in range(1000))
        + "\n"
    )
    t = scan_csv(spark, str(tmp_path / "chunks.csv"), "m", batch_rows=64)
    assert t.count() == 1000
    assert t.df.agg(F.sum("run")).collect()[0][0] == pytest.approx(sum(range(1000)))


def test_read_bundle_from_csv_normalized(spark, tmp_path):
    from pdtable_spark.units import simple_converter
    from pdtable_spark.utils import read_bundle_from_csv

    p = tmp_path / "b.csv"
    p.write_text(CSV)
    bundle = read_bundle_from_csv(
        p,
        convert_units_to={"places": {"distance": "m"}},
        unit_converter=simple_converter,
    )
    t = bundle["places"]
    assert t["distance"].unit == "m"
    vals = sorted(v for v in t["distance"].values if v is not None)
    assert vals == [0.0, 14500.0]
    # tables without a dispatcher entry pass through untouched
    assert bundle["other"]["x"].unit == "-"


def test_read_bundle_requires_converter(tmp_path):
    from pdtable_spark.utils import read_bundle_from_csv
    import pdtable_spark.units as units

    old = units.get_converter()
    units.set_converter(None)
    try:
        p = tmp_path / "b.csv"
        p.write_text(CSV)
        with pytest.raises(ValueError, match="converter"):
            read_bundle_from_csv(p, convert_units_to={"places": {"distance": "m"}})
    finally:
        units.set_converter(old)


def test_scan_csv_permissive_counts_fixes(spark, tmp_path):
    from pdtable_spark.io.csv import scan_csv

    good = "**m;\nall\na;b\n-;text\n1.0;x\n2.0;y\n\n"
    bad = "**m;\nall\na;b\n-;text\nnot_a_number;x\n3.0;y\n\n"
    (tmp_path / "f1.csv").write_text(good)
    (tmp_path / "f2.csv").write_text(bad)

    acc = spark.sparkContext.accumulator(0)
    t = scan_csv(spark, f"{tmp_path}/f*.csv", "m", permissive=True, fix_counter=acc)
    rows = t.df.collect()
    assert len(rows) == 4
    # the illegal cell became the float default (None/NaN), not a crash
    vals = sorted((r.a for r in rows), key=lambda v: (v is None, v))
    assert vals[0] in (None, float("nan")) or vals[-1] is None or any(
        v is None or v != v for v in (r.a for r in rows)
    )
    assert acc.value == 1


def test_scan_csv_strict_fails_on_illegal_cell(spark, tmp_path):
    from pdtable_spark.io.csv import scan_csv
    from py4j.protocol import Py4JJavaError

    (tmp_path / "f1.csv").write_text("**m;\nall\na\n-\nbogus\n\n")
    with pytest.raises(Exception):
        scan_csv(spark, f"{tmp_path}/f1.csv", "m").df.collect()


def test_startable_datasource_format(spark, tmp_path):
    """spark.read.format('startable'): multi-file read, schema from units,
    per-file partitions, SQL USING integration."""
    from pdtable_spark.io.datasource import register

    csv = (
        "**measurements;;\nall;;\nsite;temp;when\ntext;degC;datetime\n"
        "A;{t};2024-01-0{d} 00:00:00\n\n**other;;\nall;;\nx;\ntext;\nv;\n"
    )
    for i in range(1, 4):
        (tmp_path / f"b{i}.csv").write_text(csv.format(t=20.0 + i, d=i))
    register(spark)
    df = (
        spark.read.format("startable")
        .option("table", "measurements")
        .load(str(tmp_path / "*.csv"))
    )
    assert [f.name for f in df.schema.fields] == ["site", "temp", "when"]
    rows = df.collect()
    assert len(rows) == 3
    assert sorted(r["temp"] for r in rows) == [21.0, 22.0, 23.0]
    assert df.rdd.getNumPartitions() == 3  # one partition per file
    # missing table option is a clear error
    import pytest as _pytest

    with _pytest.raises(Exception, match="option"):
        spark.read.format("startable").load(str(tmp_path / "*.csv")).collect()
    # and the format works from SQL
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW st_ds USING startable "
        f"OPTIONS (path '{tmp_path}/*.csv', table 'measurements')"
    )
    assert spark.sql("SELECT count(*) AS n FROM st_ds").collect()[0]["n"] == 3


def test_startable_streaming_source(spark, tmp_path):
    """Streaming 'startable': files landing in the directory arrive as
    micro-batches; a restarted query (same checkpoint) ingests ONLY files
    landed since — exactly-once across restarts (parquet sink; the memory
    sink does not support checkpoint recovery)."""
    from pdtable_spark.io.datasource import register

    register(spark)
    land = tmp_path / "land"
    land.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    csv = "**readings;;\nall;;\nsensor;val;\ntext;-;\n{s};{v};\n\n"
    (land / "a.csv").write_text(csv.format(s="s1", v=1.0))
    (land / "b.csv").write_text(csv.format(s="s2", v=2.0))

    def run_once():
        stream = (
            spark.readStream.format("startable")
            .option("table", "readings")
            .load(str(land))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return sorted((r["sensor"], r["val"]) for r in spark.read.parquet(out).collect())

    assert run_once() == [("s1", 1.0), ("s2", 2.0)]
    (land / "c.csv").write_text(csv.format(s="s3", v=3.0))
    assert run_once() == [("s1", 1.0), ("s2", 2.0), ("s3", 3.0)]


def test_startable_datasource_filter_pushdown(spark, tmp_path):
    """With spark.sql.python.filterPushdown.enabled, pushed comparison
    filters drop rows inside the parser task; with it off (default) the
    format still works (the pushdown reader class is conf-gated because
    Spark rejects readers defining pushFilters under a disabled conf)."""
    from pdtable_spark.io.datasource import StarTableReader, register

    rows = "\n".join(f"s{i};{float(i)};" for i in range(10))
    (tmp_path / "f.csv").write_text(
        f"**m;;\nall;;\nsensor;val;\ntext;-;\n{rows}\n\n"
    )
    register(spark)
    df = (
        spark.read.format("startable")
        .option("table", "m")
        .load(str(tmp_path / "f.csv"))
    )
    assert df.count() == 10  # conf off: plain reader path
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        out = (
            spark.read.format("startable")
            .option("table", "m")
            .load(str(tmp_path / "f.csv"))
            .filter((F.col("val") >= 3.0) & (F.col("val") < 7.0))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    assert sorted(r["val"] for r in out) == [3.0, 4.0, 5.0, 6.0]
    # reader-level semantics, standalone
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan
    from pdtable_spark.io.datasource import StarTablePushdownReader

    r = StarTablePushdownReader([str(tmp_path / "f.csv")], df.schema, "m", ";", False)
    rest = list(r.pushFilters([GreaterThanOrEqual(("val",), 3.0), LessThan(("val",), 7.0)]))
    # every filter is yielded back so Spark re-applies it post-scan — the
    # reader's Python-side evaluation is an optimization, not the authority
    assert len(rest) == 2
    got = list(r.read(r.partitions()[0]))
    assert sorted(x[1] for x in got) == [3.0, 4.0, 5.0, 6.0]


def test_startable_datasource_column_reorder(spark, tmp_path):
    """Files listing the same table's columns in DIFFERENT orders must bind
    values to schema fields by NAME (schema is probed from the first file)."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "a.csv").write_text(
        "**m;;\nall;;\nsite;temp;\ntext;degC;\nA;21.0;\n\n"
    )
    (tmp_path / "b.csv").write_text(  # reversed column order, same table
        "**m;;\nall;;\ntemp;site;\ndegC;text;\n22.0;B;\n\n"
    )
    df = (
        spark.read.format("startable")
        .option("table", "m")
        .load(str(tmp_path / "*.csv"))
    )
    got = sorted((r["site"], r["temp"]) for r in df.collect())
    assert got == [("A", 21.0), ("B", 22.0)]


def test_startable_datasource_missing_column(spark, tmp_path):
    """A later file missing a probed-schema column: strict mode errors with
    the file and column named; permissive mode None-fills."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "a.csv").write_text(
        "**m;;\nall;;\nsite;temp;\ntext;degC;\nA;21.0;\n\n"
    )
    (tmp_path / "b.csv").write_text(  # no 'temp' column at all
        "**m;;\nall;;\nsite;\ntext;\nB;\n\n"
    )
    strict = (
        spark.read.format("startable")
        .option("table", "m")
        .load(str(tmp_path / "*.csv"))
    )
    with pytest.raises(Exception, match="temp"):
        strict.collect()
    loose = (
        spark.read.format("startable")
        .option("table", "m")
        .option("permissive", "true")
        .load(str(tmp_path / "*.csv"))
    )
    got = sorted(((r["site"], r["temp"]) for r in loose.collect()),
                 key=lambda t: t[0])
    assert got == [("A", 21.0), ("B", None)]


def test_startable_streaming_column_reorder(spark, tmp_path):
    """The streaming source aligns each landed file's columns to the probed
    schema too — a reordered bundle arriving later must not corrupt rows."""
    from pdtable_spark.io.datasource import register

    register(spark)
    land = tmp_path / "land"
    land.mkdir()
    (land / "a.csv").write_text(
        "**r;;\nall;;\nsensor;val;\ntext;-;\ns1;1.0;\n\n"
    )
    (land / "b.csv").write_text(  # reversed column order
        "**r;;\nall;;\nval;sensor;\n-;text;\n2.0;s2;\n\n"
    )
    stream = (
        spark.readStream.format("startable")
        .option("table", "r")
        .load(str(land))
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = sorted((r["sensor"], r["val"]) for r in spark.read.parquet(out).collect())
    assert got == [("s1", 1.0), ("s2", 2.0)]


def test_startable_pushdown_null_and_datetime_safe(spark, tmp_path):
    """Pushdown must not change results for NULL values or timestamp
    literals — and Spark re-applies every filter, so any Python-vs-SQL
    comparison divergence can only lose an optimization, never rows."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "f.csv").write_text(
        "**m;;\nall;;\nsite;val;when\ntext;-;datetime\n"
        "A;1.0;2024-01-01 00:00:00\n"
        "B;-;2024-01-02 00:00:00\n"
        "C;3.0;2024-01-03 00:00:00\n\n"
    )

    def read():
        return (
            spark.read.format("startable")
            .option("table", "m")
            .load(str(tmp_path / "f.csv"))
        )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got_val = read().filter(F.col("val") > 0.0).collect()
        got_ts = read().filter(
            F.col("when") >= F.lit("2024-01-02").cast("timestamp")
        ).collect()
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    # NULL > 0.0 is NULL → dropped, identically in the reader and in SQL
    assert sorted(r["site"] for r in got_val) == ["A", "C"]
    assert sorted(r["site"] for r in got_ts) == ["B", "C"]


def test_startable_pushdown_defers_nan_and_type_mismatch(tmp_path):
    """Reader-level guard semantics: a NaN value or an incomparable filter
    literal keeps the row (Spark's re-applied filter decides); NULLs drop."""
    import datetime
    import math

    from pyspark.sql import types as T
    from pyspark.sql.datasource import GreaterThan
    from pdtable_spark.io.datasource import StarTablePushdownReader

    schema = T.StructType([T.StructField("val", T.DoubleType())])
    r = StarTablePushdownReader([], schema, "m", ";", False)
    list(r.pushFilters([GreaterThan(("val",), 0.0)]))
    assert r._keep(lambda c: math.nan)  # NaN → defer to Spark
    assert r._keep(lambda c: 1.0)
    assert not r._keep(lambda c: -1.0)
    assert not r._keep(lambda c: None)  # NULL comparison: never true
    # incomparable types (e.g. datetime vs float literal): defer to Spark
    assert r._keep(lambda c: datetime.datetime(2024, 1, 1))


def test_startable_pushdown_nan_literal_not_consumed(tmp_path):
    """A filter whose LITERAL is NaN must not be evaluated reader-side:
    Python would drop rows SQL keeps (SQL: val < NaN is true for all
    non-NaN)."""
    import math

    from pyspark.sql import types as T
    from pyspark.sql.datasource import GreaterThan, In, LessThan
    from pdtable_spark.io.datasource import StarTablePushdownReader

    schema = T.StructType([T.StructField("val", T.DoubleType())])
    r = StarTablePushdownReader([], schema, "m", ";", False)
    back = list(r.pushFilters([
        LessThan(("val",), math.nan),
        In(("val",), (1.0, math.nan)),
        GreaterThan(("val",), 0.0),
    ]))
    assert len(back) == 3  # every filter yielded back for Spark
    assert r._pushed == [back[2]]  # only the NaN-free filter is consumed
    assert r._keep(lambda c: -5.0) is False  # the consumed one still works


def test_orc_round_trip_with_units(spark, tmp_path):
    """Table → ORC directory (+ sidecar) → Table: data, name, destinations
    and units all survive (ORC drops field metadata, so units ride the
    sidecar only)."""
    from pdtable_spark.io.orc import read_orc, write_orc
    from pdtable_spark.table import Table

    df = spark.createDataFrame(
        [(1.0, "a", 10.5), (2.0, "b", 11.0)], ["idx", "label", "mass"]
    )
    t = Table(df, name="cargo", destinations={"all"},
              unit_map={"idx": "-", "label": "text", "mass": "kg"})
    path = str(tmp_path / "cargo_orc")
    write_orc(t, path)
    back = read_orc(spark, path)
    assert back.name == "cargo" and back.destinations == {"all"}
    assert back.column_metadata["mass"].unit == "kg"
    assert sorted(map(tuple, back.df.collect())) == sorted(map(tuple, df.collect()))


def test_orc_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdtable_spark.io.orc import write_orc
    from pdtable_spark.table import Table

    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(20)],
        ["k", "par", "v"],
    )
    t = Table(df, name="parts", unit_map={"k": "-", "par": "text", "v": "-"})
    path = str(tmp_path / "parts_orc")
    write_orc(t, path, partition_by=["par"])
    import os
    assert sorted(d for d in os.listdir(path) if d.startswith("par=")) == [
        "par=even", "par=odd"
    ]
    got = spark.read.orc(path).filter(F.col("par") == "even")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert got.count() == 10
    assert "par=even" in plan or "PartitionFilters" in plan


def test_startable_datasource_write_round_trip(spark, tmp_path):
    """df.write.format('startable'): partitioned shards with full block
    headers, staged-then-promoted commit (_SUCCESS, no staging residue),
    units from field metadata, and byte-level round-trip through BOTH
    readers (scan_csv and the data source)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from pdtable_spark.frame import attach_units
    from pdtable_spark.io.csv import scan_csv
    from pdtable_spark.io.datasource import register

    register(spark)
    out = str(tmp_path / "cargo")
    df = spark.range(60).select(
        F.col("id").cast("double").alias("idx"),
        (F.col("id") * 1.5).alias("mass"),
        F.concat(F.lit("r"), F.col("id")).alias("label"),
    ).repartition(3)
    df = attach_units(df, unit_map={"idx": "-", "mass": "kg", "label": "text"})
    df.write.format("startable").option("table", "cargo").mode("overwrite").save(out)

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    assert not any(n.startswith("_staging") for n in names)
    parts = [n for n in names if n.startswith("part-") and n.endswith(".csv")]
    assert len(parts) == 3
    # every shard is a self-contained StarTable block
    head = open(os.path.join(out, parts[0])).read().splitlines()
    assert head[0].startswith("**cargo") and head[2].split(";")[0] == "idx"
    assert head[3].split(";") == ["-", "kg", "text"]

    back = scan_csv(spark, out + "/part-*.csv", "cargo")
    assert back.df.count() == 60
    assert back.column_metadata["mass"].unit == "kg"
    ds = spark.read.format("startable").option("table", "cargo").load(out + "/part-*.csv")
    assert ds.count() == 60
    got = {r["idx"]: (r["mass"], r["label"]) for r in ds.collect()}
    assert got[7.0] == (10.5, "r7")

    # overwrite replaces previous shards completely
    df.limit(5).write.format("startable").option("table", "cargo").mode(
        "overwrite"
    ).save(out)
    assert (
        spark.read.format("startable").option("table", "cargo")
        .load(out + "/part-*.csv").count() == 5
    )


def test_startable_datasource_write_units_option(spark, tmp_path):
    """Explicit option('units', ...) overrides metadata/dtype inference and
    must match the column count."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from pdtable_spark.io.datasource import register

    register(spark)
    df = spark.range(4).select(F.col("id").cast("double").alias("x"))
    out = str(tmp_path / "u")
    df.write.format("startable").option("table", "t").option("units", "m").mode(
        "overwrite"
    ).save(out)
    import glob
    shard = glob.glob(out + "/part-*.csv")[0]
    assert open(shard).read().splitlines()[3] == "m"
    with _pytest.raises(Exception, match="units"):
        df.write.format("startable").option("table", "t").option(
            "units", "m;kg"
        ).mode("overwrite").save(str(tmp_path / "u2"))


def test_startable_datasource_stream_write(spark, tmp_path):
    """writeStream.format('startable'): micro-batches land as
    batch_id=N/ shard directories of self-contained StarTable CSVs, and
    the tree round-trips through scan_csv."""
    import glob
    import os

    from pyspark.sql import functions as F

    from pdtable_spark.frame import attach_units
    from pdtable_spark.io.csv import scan_csv
    from pdtable_spark.io.datasource import register

    register(spark)
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join('{"idx": %d.0, "label": "r%d"}' % (i, i) for i in range(8))
    )
    out = str(tmp_path / "land")
    stream = (
        spark.readStream.schema("idx double, label string").json(str(src))
    )
    q = (
        stream.writeStream.format("startable")
        .option("table", "ticks")
        .option("units", "-;text")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    batches = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert batches
    shard = glob.glob(out + "/batch_id=*/part-*.csv")[0]
    head = open(shard).read().splitlines()
    assert head[0].startswith("**ticks") and head[3] == "-;text"
    back = scan_csv(spark, out + "/batch_id=*/part-*.csv", "ticks")
    assert back.df.count() == 8
    assert {r["label"] for r in back.df.collect()} == {"r%d" % i for i in range(8)}


def test_stream_staging_sweep_honors_per_file_horizon(tmp_path):
    """Cross-query staging safety: each stream writer stamps its OWN
    staleStagingSeconds horizon into its shard filenames, and every sweep
    honors the per-file value — so raising the horizon on a slow catch-up
    query protects its staged shards from a concurrent default-horizon
    query's sweep (the per-sweeper horizon alone silently lost them)."""
    import os
    import time

    from pdtable_spark.io.datasource import StarTableStreamWriter

    staging = tmp_path / "_stream-staging"
    staging.mkdir()
    two_h_ago = time.time() - 7200
    slow = staging / "part-00001-h86400-aaaa.csv"  # 24h-horizon writer
    fast = staging / "part-00002-h3600-bbbb.csv"   # default-horizon writer
    untagged = staging / "part-00003-cccc.csv"     # no tag → sweeper's own
    for p in (slow, fast, untagged):
        p.write_text("x")
        os.utime(p, (two_h_ago, two_h_ago))
    sweeper = StarTableStreamWriter(
        str(tmp_path), str(staging), "t", ";", [], [], []
    )
    sweeper._cleanup_staging()
    assert slow.exists()           # its own 24h horizon has not elapsed
    assert not fast.exists()       # past its own 1h horizon
    assert not untagged.exists()   # falls back to the sweeper's horizon


def test_stream_staging_shard_names_carry_horizon(tmp_path):
    """The task-side writer embeds the horizon tag the sweep contract
    depends on (and a custom staleStagingSeconds changes the tag)."""
    import re

    from pdtable_spark.io.datasource import StarTableStreamWriter

    staging = str(tmp_path / "_stream-staging")
    w = StarTableStreamWriter(str(tmp_path), staging, "t", ";", ["a"], ["-"], ["all"])
    w._STALE_STAGING_SECONDS = 7200.0
    msg = w.write(iter([(1.0,)]))
    assert re.fullmatch(r"part-\d{5}-h7200-[0-9a-f]{32}\.csv", msg.file), msg.file


def test_startable_stream_read_rejects_metadata_schema(spark, tmp_path):
    """A user schema carrying field metadata (the attach_units idiom) must
    fail at planning time with the real cause — Spark 4.1's Python
    streaming runner otherwise dies mid-batch with an opaque
    INTERNAL_ERROR arrow assertion (verified); the probed-schema path
    strips metadata for the same reason."""
    from pyspark.sql import types as T

    from pdtable_spark.io.datasource import register

    register(spark)
    land = tmp_path / "land"
    land.mkdir()
    (land / "a.csv").write_text("**r;;\nall;;\nsensor;val;\ntext;-;\ns1;1.0;\n\n")
    meta_schema = T.StructType(
        [
            T.StructField("sensor", T.StringType(), True, {"unit": "text"}),
            T.StructField("val", T.DoubleType(), True, {"unit": "-"}),
        ]
    )
    stream = (
        spark.readStream.format("startable")
        .option("table", "r")
        .schema(meta_schema)
        .load(str(land))
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="metadata"):
        q.awaitTermination(120)


# ---------------------------------------------------------------------------
# Driver-built Tables are JVM-local (arrow_frame); scan_csv layout
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_jvm_local(df):
    """No Python-RDD relation in the plan: later actions start no Python
    worker for this frame."""
    plan = _plan(df)
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert "LocalTableScan" in plan, plan


def test_read_csv_tables_are_jvm_local_with_units(spark):
    bundle = TableBundle(read_csv(io.StringIO(CSV)))
    for name, units in (("places", ["text", "km", "onoff"]), ("other", ["-"])):
        t = bundle[name]
        assert_jvm_local(t.df)
        assert t.units == units
        assert [f.metadata["pdtable"]["unit"] for f in t.df.schema.fields] == units
    assert bundle["places"].df.collect()[1]["distance"] == 14.5


def test_load_files_tables_are_jvm_local(spark, tmp_path):
    from pdtable_spark.io.load import load_files

    (tmp_path / "root.csv").write_text("***include;\ninc.csv\n\n" + CSV)
    (tmp_path / "inc.csv").write_text("**inc;\nall\nw\nkg\n1.5\n\n")
    tables = [b for bt, b in load_files([str(tmp_path / "root.csv")]) if bt == BlockType.TABLE]
    assert sorted(t.name for t in tables) == ["inc", "other", "places"]
    for t in tables:
        assert_jvm_local(t.df)
    assert {t.name: t.units for t in tables}["inc"] == ["kg"]


def test_json_data_to_table_is_jvm_local(spark):
    t = TableBundle(read_csv(io.StringIO(CSV)))["places"]
    t2 = json_data_to_table(table_to_json_data(t), spark=spark)
    assert_jvm_local(t2.df)
    assert t2.units == ["text", "km", "onoff"]
    assert t.equals(t2)


def test_zero_row_and_zero_column_tables_build(spark):
    from pdtable_spark.frame import table_from_parsed
    from pdtable_spark.parsers.blocks import ParsedTable

    empty = ParsedTable(
        name="e",
        destinations=["all"],
        column_names=["d", "x", "s", "b"],
        units=["datetime", "kg", "text", "onoff"],
        columns={"d": [], "x": [], "s": [], "b": []},
    )
    t = table_from_parsed(empty, spark=spark)
    assert t.count() == 0
    assert t.units == ["datetime", "kg", "text", "onoff"]
    assert_jvm_local(t.df)
    bare = ParsedTable(name="z", destinations=["all"], column_names=[], units=[], columns={})
    z = table_from_parsed(bare, spark=spark)
    assert z.column_names == [] and z.count() == 0


def test_read_csv_naive_datetime_keeps_wall_clock_under_non_utc_tz(spark):
    """A naive datetime means the same wall-clock time on the way in and
    out, whatever the process time zone (the session runs in UTC)."""
    import datetime as dt
    import os
    import time

    text = "**when;\nall\nat;v\ndatetime;-\n2020-01-02 12:00:00;1\n-;2\n\n"
    old = os.environ.get("TZ")
    try:
        for tz in ("America/New_York", "Asia/Kolkata"):
            os.environ["TZ"] = tz
            time.tzset()
            t = TableBundle(read_csv(io.StringIO(text)))["when"]
            assert [r["at"] for r in t.df.collect()] == [dt.datetime(2020, 1, 2, 12, 0), None]
            out = io.StringIO()
            write_csv(t, out)
            assert "2020-01-02 12:00:00;1.0" in out.getvalue()
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


def _scan_files(tmp_path, n_files):
    for i in range(n_files):
        (tmp_path / f"f{i:02d}.csv").write_text(f"**m;\nall\nfile\n-\n{i}\n\n")
    return str(tmp_path / "*.csv")


@pytest.mark.parametrize("n_files,min_partitions", [(7, None), (10, 3), (5, 9)])
def test_scan_csv_even_partitions_no_exchange(spark, tmp_path, n_files, min_partitions):
    """Exactly n_part partitions whose file counts differ by at most one,
    with no shuffle — also when min_partitions exceeds defaultParallelism
    (a bare local scan would cap the partition count there)."""
    t = scan_csv(spark, _scan_files(tmp_path, n_files), "m", min_partitions=min_partitions)
    assert "Exchange" not in _plan(t.df)
    if min_partitions is not None:
        assert t.df.rdd.getNumPartitions() == min_partitions
    sizes = t.df.rdd.glom().map(len).collect()  # one row per file
    assert sum(sizes) == n_files
    assert max(sizes) - min(sizes) <= 1
    assert sorted(r["file"] for r in t.df.collect()) == [float(i) for i in range(n_files)]


def test_scan_csv_reads_empty_distributed_blocks(spark, tmp_path):
    """More partitions than rows: an empty partition writes no block (or,
    as partition 0, an empty file), and scan_csv still reads every row,
    datetime columns included."""
    import datetime as dt

    from pdtable_spark.io.csv import write_csv_distributed

    text = "**ev;\nall\nat;v\ndatetime;kg\n2020-01-02 12:00:00;1\n2021-03-04 05:06:07;2\n\n"
    t = TableBundle(read_csv(io.StringIO(text)))["ev"]
    out = str(tmp_path / "out")
    write_csv_distributed(Table(t.df.repartition(4), metadata=t.metadata), out)
    back = scan_csv(spark, out + "/part-*", "ev")
    assert back.units == ["datetime", "kg"]
    assert sorted((r["at"], r["v"]) for r in back.df.collect()) == [
        (dt.datetime(2020, 1, 2, 12, 0), 1.0),
        (dt.datetime(2021, 3, 4, 5, 6, 7), 2.0),
    ]


# ---------------------------------------------------------------------------
# write_csv_distributed renders rows in the JVM
# ---------------------------------------------------------------------------

_PYTHON_NODES = ("PythonRDD", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


class _PlanListener:
    """py4j QueryExecutionListener: the executed plan of every finished
    SQL action."""

    def __init__(self):
        self.plans = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.plans.append(qe.executedPlan().toString())

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _write_plans(spark, write):
    """Run ``write()`` and return the plans of the SQL actions it ran."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _PlanListener()
    manager = spark._jsparkSession.listenerManager()
    manager.register(listener)
    try:
        write()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        manager.unregister(listener)
    return listener.plans


def _data_lines(out_dir):
    """Every non-blank line after the 4 header lines of each part file."""
    import glob

    lines = []
    for p in sorted(glob.glob(out_dir + "/part-*")):
        with open(p) as f:
            lines.extend(line for line in f.read().splitlines()[4:] if line)
    return lines


@pytest.fixture
def process_tz():
    """Set the driver's process time zone for one test, then restore it."""
    import os
    import time

    old = os.environ.get("TZ")

    def set_tz(tz):
        os.environ["TZ"] = tz
        time.tzset()

    yield set_tz
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


_ORDINARY = (
    "**ord;\nall\nname;mass;ok;at;n\ntext;kg;onoff;datetime;-\n"
    "a;0.0;1;2020-01-02 12:00:00;3\n"
    "b;14.5;0;2020-01-02 12:00:00.250000;-\n"
    "c;-;1;-;1234567\n"
    "d;-0.25;0;1999-12-31 23:59:59.000001;0.001\n\n"
)


def test_write_csv_distributed_runs_no_python(spark, tmp_path):
    from pdtable_spark.io.csv import write_csv_distributed

    t = TableBundle(read_csv(io.StringIO(_ORDINARY)))["ord"]
    out = str(tmp_path / "out")
    plans = _write_plans(spark, lambda: write_csv_distributed(t, out))
    writes = [p for p in plans if "InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 1, plans
    for node in _PYTHON_NODES:
        assert node not in writes[0], writes[0]
    assert len(_data_lines(out)) == 4


def test_write_csv_distributed_lines_match_write_csv(spark, tmp_path, process_tz):
    """Ordinary values: the same header and byte-identical data lines as
    write_csv (process and session time zone both UTC)."""
    import glob

    from pdtable_spark.io.csv import write_csv_distributed

    process_tz("UTC")
    t = TableBundle(read_csv(io.StringIO(_ORDINARY)))["ord"]
    out = str(tmp_path / "out")
    write_csv_distributed(Table(t.df.repartition(3), metadata=t.metadata), out)
    driver = io.StringIO()
    write_csv(t, driver)
    head, body = driver.getvalue().split("\n")[:4], driver.getvalue().split("\n")[4:]
    for p in glob.glob(out + "/part-*"):
        lines = open(p).read().splitlines()
        assert not lines or lines[:4] == head
    assert sorted(_data_lines(out)) == sorted(line for line in body if line)


def test_write_csv_distributed_edge_doubles_round_trip(spark, tmp_path):
    """Java's spelling of doubles keeps every bit through both readers;
    NaN and null are written as na_rep."""
    import glob
    import math
    import struct

    from pdtable_spark.io.csv import write_csv_distributed

    values = [1e23, 2.0 ** 60, 5e-324, 1e7, 1e-5, math.inf, -math.inf, -0.0, 0.1, math.nan]
    df = spark.range(len(values)).select(
        F.concat(F.lit("r"), F.col("id")).alias("k"),
        F.element_at(F.array(*[F.lit(v) for v in values]), F.col("id").cast("int") + 1).alias("x"),
    )
    out = str(tmp_path / "out")
    write_csv_distributed(Table(df, name="edge", units=["text", "kg"]), out)
    cells = {line.split(";")[0]: line.split(";")[1] for line in _data_lines(out)}
    assert cells["r3"] == "1.0E7" and cells["r5"] == "Infinity" and cells["r9"] == "-"

    def bits(v):
        return None if v is None or v != v else struct.pack(">d", v)

    want = {f"r{i}": bits(v) for i, v in enumerate(values)}
    scanned = {r["k"]: bits(r["x"]) for r in scan_csv(spark, out, "edge").df.collect()}
    assert scanned == want
    parsed = {}
    for p in glob.glob(out + "/part-*"):
        for _, b in read_csv(p, to="parsed"):
            parsed.update(zip(b.columns["k"], map(bits, b.columns["x"])))
    assert parsed == want


def test_write_csv_distributed_datetimes_follow_session_tz(spark, tmp_path, process_tz):
    """Under a non-UTC process time zone the JVM still renders datetimes in
    the session time zone, and write_csv_distributed → scan_csv gives back
    the datetimes it was given."""
    from pdtable_spark.io.csv import write_csv_distributed

    process_tz("America/New_York")
    spelled = ["2020-01-02 12:00:00", "2021-07-04 23:30:15.250000",
               "1969-12-31 23:59:59.000001", None]
    jvm = spark.range(len(spelled)).select(
        F.concat(F.lit("r"), F.col("id")).alias("k"),
        F.element_at(F.array(*[F.lit(s) for s in spelled]), F.col("id").cast("int") + 1)
        .cast("timestamp").alias("at"),
    )
    text = "**when;\nall\nk;at\ntext;datetime\n" + "".join(
        f"r{i};{'-' if s is None else s}\n" for i, s in enumerate(spelled)
    ) + "\n"
    from_csv = TableBundle(read_csv(io.StringIO(text)))["when"].df
    for i, df in enumerate((jvm, from_csv)):
        out = str(tmp_path / f"out{i}")
        write_csv_distributed(Table(df.repartition(2), name="when", units=["text", "datetime"]), out)
        if df is jvm:
            assert sorted(line.split(";")[1] for line in _data_lines(out)) == sorted(
                "-" if s is None else s for s in spelled
            )
        back = {r["k"]: r["at"] for r in scan_csv(spark, out, "when").df.collect()}
        assert back == {r["k"]: r["at"] for r in df.collect()}


def test_write_csv_distributed_display_format(spark, tmp_path):
    """A display_format column goes through one Python UDF and matches
    write_csv's formatting."""
    from pdtable_spark.io.csv import write_csv_distributed
    from pdtable_spark.model.metadata import ColumnFormat

    t = TableBundle(read_csv(io.StringIO(CSV), filter=lambda bt, n: n == "places"))["places"]
    cm = t.column_metadata["distance"]
    cm.display_format = ColumnFormat(2)
    t._df = t.df.withMetadata("distance", cm.to_field_metadata())
    out = str(tmp_path / "out")
    plans = _write_plans(spark, lambda: write_csv_distributed(t, out))
    assert any("ArrowEvalPython" in p for p in plans), plans
    driver = io.StringIO()
    write_csv(t, driver)
    want = [line for line in driver.getvalue().split("\n")[4:] if line]
    assert "work;14.50;0" in want
    assert sorted(_data_lines(out)) == sorted(want)


def test_write_csv_distributed_odd_column_names(spark, tmp_path):
    """Columns whose names hold dots and spaces are addressed as names."""
    from pdtable_spark.io.csv import write_csv_distributed

    text = "**odd;\nall\na.b;with space;a b.c\n-;m;text\n0;0;v0\n1;2;v1\n2;4;v2\n\n"
    t = TableBundle(read_csv(io.StringIO(text)))["odd"]
    out = str(tmp_path / "out")
    write_csv_distributed(t, out)
    back = scan_csv(spark, out, "odd")
    assert back.column_names == ["a.b", "with space", "a b.c"]
    assert back.units == ["-", "m", "text"]
    assert sorted(tuple(r) for r in back.df.collect()) == [
        (0.0, 0.0, "v0"), (1.0, 2.0, "v1"), (2.0, 4.0, "v2")
    ]


def test_null_first_text_cell_keeps_the_block(spark, tmp_path):
    """A null in the first (text) column is sealed as '-' by both writers;
    left empty, it ended the block and every later row was dropped."""
    from pdtable_spark.io.csv import write_csv_distributed

    df = spark.range(5).select(
        F.when(F.col("id") == 1, F.lit(None)).otherwise(F.concat(F.lit("k"), F.col("id")))
        .alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    t = Table(df.coalesce(1), name="nk", units=["text", "-"])
    driver = io.StringIO()
    write_csv(t, driver)
    assert "-;1.0" in driver.getvalue().splitlines()
    driver.seek(0)
    assert TableBundle(read_csv(driver))["nk"].count() == 5
    out = str(tmp_path / "out")
    write_csv_distributed(t, out)
    assert "-;1.0" in _data_lines(out)
    assert scan_csv(spark, out, "nk").count() == 5


def test_write_csv_distributed_zero_rows(spark, tmp_path):
    """A table with no rows gives exactly one header-only file, which
    scan_csv reads as zero rows with the table's units."""
    import glob

    from pdtable_spark.io.csv import write_csv_distributed

    t = TableBundle(read_csv(io.StringIO(_ORDINARY)))["ord"]
    out = str(tmp_path / "out")
    write_csv_distributed(Table(t.df.limit(0), metadata=t.metadata), out)
    parts = glob.glob(out + "/part-*")
    assert len(parts) == 1
    assert open(parts[0]).read() == (
        "**ord;\nall\nname;mass;ok;at;n\ntext;kg;onoff;datetime;-\n"
    )
    back = scan_csv(spark, out, "ord")
    assert back.count() == 0
    assert back.units == ["text", "kg", "onoff", "datetime", "-"]


def test_scan_csv_directory_skips_hidden_and_empty_files(spark, tmp_path):
    """A directory expands without _SUCCESS and dot files, and the schema
    comes from the first file that holds the table."""
    d = tmp_path / "out"
    d.mkdir()
    (d / "_SUCCESS").write_text("")
    (d / ".part-00001.crc").write_text("junk")
    (d / "part-00000").write_text("")
    (d / "part-00001").write_text("**other;\nall\ny\n-\n7\n\n")
    (d / "part-00002").write_text("**m;\nall\nx\nkg\n1\n2\n")
    t = scan_csv(spark, str(d), "m")
    assert t.units == ["kg"]
    assert sorted(r["x"] for r in t.df.collect()) == [1.0, 2.0]
    with pytest.raises(LookupError, match="any file"):
        scan_csv(spark, str(d), "absent")
