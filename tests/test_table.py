"""Table wrapper tests: metadata propagation through relational ops (R1-R22)."""

import pytest
from pyspark.sql import functions as F

from pdtable_spark import ColumnUnitException, Table
from pdtable_spark.frame import InvalidTableCombineError, schema_for_units


def make_places(spark, name="places"):
    schema = schema_for_units(
        ["place", "distance", "is_hot"], ["text", "km", "onoff"]
    )
    df = spark.createDataFrame(
        [("home", 0.0, True), ("work", 14.5, False), ("beach", 2.0, True)],
        schema=schema,
    )
    return Table(df, name=name)


def test_units_survive_select_and_filter(spark):
    t = make_places(spark)
    assert t.units == ["text", "km", "onoff"]
    t2 = t.select("place", "distance").filter(F.col("distance") > 1.0)
    assert t2.units == ["text", "km"]
    assert t2.count() == 2
    assert t2.name == "places"


def test_units_survive_raw_dataframe_ops(spark):
    # field metadata survives raw Spark projections with no wrapper involved
    t = make_places(spark)
    raw = t.df.select("distance").filter(F.col("distance") > 0)
    t2 = Table(raw, name="derived")
    assert t2.units == ["km"]


def test_add_column_expr_and_values(spark):
    t = make_places(spark)
    t2 = t.with_column("distance_m", F.col("distance") * 1000, unit="m")
    assert t2["distance_m"].unit == "m"
    t3 = t.add_column("rating", [3.0, 1.0, 5.0])
    assert t3["rating"].unit == "-"
    assert t3["rating"].values == [3.0, 1.0, 5.0]


def test_union_checks_units(spark):
    a = make_places(spark)
    b = make_places(spark)
    assert a.union(b).count() == 6
    mismatched = Table(
        spark.createDataFrame(
            [("x", 1.0, True)],
            schema=schema_for_units(["place", "distance", "is_hot"], ["text", "mile", "onoff"]),
        ),
        name="places",
    )
    with pytest.raises(InvalidTableCombineError):
        a.union(mismatched)


def test_join_units_and_conflict(spark):
    t = make_places(spark)
    dim = Table(
        spark.createDataFrame(
            [("home", 1.0), ("work", 2.0)],
            schema=schema_for_units(["place", "weight"], ["text", "kg"]),
        ),
        name="weights",
    )
    j = t.join(dim, on="place", broadcast=True)
    assert j.count() == 2
    assert set(j.column_names) == {"place", "distance", "is_hot", "weight"}
    assert j["weight"].unit == "kg"
    conflicting = Table(
        spark.createDataFrame(
            [("home", 1.0)],
            schema=schema_for_units(["place", "distance"], ["text", "mile"]),
        ),
        name="conflict",
    )
    with pytest.raises(InvalidTableCombineError):
        t.join(conflicting, on="place")


def test_group_agg_unit_rules(spark):
    t = make_places(spark)
    g = t.group_by("is_hot").agg(
        total_km=("distance", "sum"), n=("*", "count"), max_km=("distance", "max")
    )
    cm = g.column_metadata
    assert cm["total_km"].unit == "km"
    assert cm["max_km"].unit == "km"
    assert cm["n"].unit == "-"
    got = {r["is_hot"]: r["total_km"] for r in g.df.collect()}
    assert got[True] == 2.0 and got[False] == 14.5


def test_equals_dtype_insensitive_and_nulls(spark):
    import pyspark.sql.types as T

    a = make_places(spark)
    # same values but distance stored as float32 + a null row on both sides
    schema = T.StructType(
        [
            T.StructField("place", T.StringType(), metadata={"pdtable": {"unit": "text"}}),
            T.StructField("distance", T.FloatType(), metadata={"pdtable": {"unit": "km"}}),
            T.StructField("is_hot", T.BooleanType(), metadata={"pdtable": {"unit": "onoff"}}),
        ]
    )
    b = Table(
        spark.createDataFrame(
            [("home", 0.0, True), ("work", 14.5, False), ("beach", 2.0, True)],
            schema=schema,
        ),
        name="places",
    )
    assert a.equals(b)
    assert not a.equals(b.filter(F.col("distance") > 0))
    assert not a.equals(Table(b.df, name="renamed"))


def test_rename_column_moves_metadata(spark):
    t = make_places(spark)
    t2 = t.rename_column("distance", "dist")
    assert t2["dist"].unit == "km"


def test_astype_unit_validation(spark):
    t = make_places(spark)
    t2 = t.astype({"distance": "int"})
    assert dict(t2.df.dtypes)["distance"] == "int"
    with pytest.raises(ColumnUnitException):
        t.astype({"distance": "string"})


def test_fillna_type_check(spark):
    t = make_places(spark).with_column(
        "maybe", F.when(F.col("distance") > 1, F.col("distance")), unit="km"
    )
    filled = t.fillna(0.0, subset=["maybe"])
    assert filled.df.filter(F.col("maybe").isNull()).count() == 0
    # Spark's fillna drops field metadata on filled columns; the facade
    # must re-attach it, or the unit silently resets to '-' and every
    # downstream unit check (convert_units, join conflicts) misfires
    assert filled["maybe"].unit == "km"
    num = filled.select("distance", "maybe")
    assert num.fillna(0.0)["maybe"].unit == "km"  # subset=None path too
    with pytest.raises(ColumnUnitException):
        t.fillna("zero", subset=["maybe"])


def test_append_row(spark):
    t = make_places(spark)
    t2 = t.append_row(["moon", 384400.0, False])
    assert t2.count() == 4


def test_replace(spark):
    t = make_places(spark)
    t2 = t.replace("home", "HOME", subset=["place"])
    assert "HOME" in {r["place"] for r in t2.df.collect()}


def test_pivot_and_melt(spark):
    t = make_places(spark)
    p = t.pivot(index="is_hot", pivot_col="place", value_col="distance")
    assert p.column_metadata["home"].unit == "km"
    m = t.select("place", "distance").melt(id_vars=["place"])
    assert m.column_metadata["value"].unit == "km"
    assert m.count() == 3


def test_convert_units_affine(spark):
    from pdtable_spark.units import simple_converter

    t = make_places(spark)
    t2 = t.convert_units({"distance": "m"}, converter=simple_converter)
    assert t2["distance"].unit == "m"
    assert sorted(t2["distance"].values) == [0.0, 2000.0, 14500.0]
    # affine (offset) conversion: C -> K
    temps = Table(
        spark.createDataFrame(
            [(0.0,), (100.0,)], schema=schema_for_units(["temp"], ["C"])
        ),
        name="temps",
    )
    k = temps.convert_units({"temp": "K"}, converter=simple_converter)
    assert k["temp"].values == [273.15, 373.15]


def test_convert_units_base_skips_inconvertible(spark):
    from pdtable_spark.units import simple_converter

    t = make_places(spark)
    base = t.convert_units("base", converter=simple_converter)
    assert base["distance"].unit == "m"
    assert base["place"].unit == "text"  # skipped


def test_convert_units_requires_converter(spark):
    from pdtable_spark.table import MissingUnitConverterError

    t = make_places(spark)
    with pytest.raises(MissingUnitConverterError):
        t.convert_units({"distance": "m"})


def test_origin_lineage(spark):
    t = make_places(spark)
    t2 = t.filter(F.col("distance") > 0).select("place")
    assert "select" in t2.origin.operation
    assert t2.origin.parents[0].operation == "Spark filter"


def test_hcat(spark):
    a = make_places(spark)
    b = Table(
        spark.createDataFrame(
            [(1.0,), (2.0,), (3.0,)], schema=schema_for_units(["extra"], ["-"])
        ),
        name="extras",
    )
    c = a.hcat(b)
    assert c.count() == 3
    assert "extra" in c.column_names


def test_get_row_and_repr(spark):
    t = make_places(spark)
    row = t.get_row(1)
    assert row[0] == "work"
    assert "**places" in repr(t)


def test_transpose_metadata_reset(spark):
    t = make_places(spark)
    flipped = t.transpose()
    # reference semantics (test_pdtable.py:400-407): all columns become text
    assert all(u == "text" for u in flipped.units[1:]) or all(
        u in ("text", "-") for u in flipped.units
    )
    assert flipped.count() == len(t.column_names)


def test_distinct_and_limit(spark):
    t = make_places(spark)
    doubled = t.union(t)
    assert doubled.count() == 6
    assert doubled.distinct().count() == 3
    assert doubled.limit(2).count() == 2
    assert doubled.distinct()["distance"].unit == "km"


def test_unit_arithmetic(spark):
    from pdtable_spark.units.algebra import UnitMismatchError

    t = (
        make_places(spark)
        .filter(F.col("distance") > 0)  # ANSI mode: avoid 0/0 in speed
        .with_column("hours", F.col("distance") / 10.0, unit="h")
    )
    speed = t["distance"] / t["hours"]
    assert speed.unit == "km/h"
    t2 = t.with_column("speed", speed)
    assert t2["speed"].unit == "km/h"
    assert t2.df.filter(F.col("speed") > 0).count() == 2

    area = t["distance"] * t["distance"]
    assert area.unit == "km*km"
    ratio = t["distance"] / t["distance"]
    assert ratio.unit == "-"
    scaled = t["distance"] * 2
    assert scaled.unit == "km"
    total = t["distance"] + t["distance"]
    assert total.unit == "km"
    # compound composition parenthesizes
    accel = speed / t["hours"]
    assert accel.unit == "(km/h)/h"

    with pytest.raises(UnitMismatchError):
        t["distance"] + t["hours"]
    with pytest.raises(UnitMismatchError):
        t["place"] * t["distance"]


def _assert_jvm_local(t):
    plan = t.df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def make_local_places(spark):
    from pdtable_spark.frame import arrow_frame

    schema = schema_for_units(["place", "distance", "is_hot"], ["text", "km", "onoff"])
    cols = [["home", "work", "beach"], [0.0, 14.5, 2.0], [True, False, True]]
    return Table(arrow_frame(spark, cols, schema), name="places")


def test_append_row_is_jvm_local(spark):
    t = make_local_places(spark).append_row({"place": "moon", "distance": 384400, "is_hot": 0})
    _assert_jvm_local(t)
    assert t.units == ["text", "km", "onoff"]
    assert t.df.collect()[-1] == ("moon", 384400.0, False)


def test_transpose_is_jvm_local(spark):
    flipped = make_local_places(spark).transpose()
    _assert_jvm_local(flipped)
    assert flipped.column_names == ["column", "row_0", "row_1", "row_2"]
    assert flipped.df.collect()[1] == ("distance", "0.0", "14.5", "2.0")


def test_setitem_values_is_jvm_local(spark):
    t = make_local_places(spark)
    t["rating"] = [3.0, None, 5.0]
    t["note"] = ["a", "b", "c"]
    _assert_jvm_local(t)
    assert t.units == ["text", "km", "onoff", "-", "text"]
    assert [r["rating"] for r in t.df.collect()] == [3.0, None, 5.0]


def test_append_row_integer_column_refuses_truncation(spark):
    t = Table(spark.range(2).withColumnRenamed("id", "n"), name="ints")
    assert [r["n"] for r in t.append_row([5]).df.collect()] == [0, 1, 5]
    with pytest.raises(Exception, match="truncated"):
        t.append_row([2.5])
