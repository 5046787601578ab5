"""The engine's one reading of a dotted collection path
(`hopspark.engine._resolve_path`), on hand-built schemas: the reference's
Path rules, with no Spark session started."""

from __future__ import annotations

from pyspark.sql import types as T

from hopspark.engine import PathStep, _resolve_path

ORDER = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_lineitems", T.ArrayType(T.StructType([
        T.StructField("l_quantity", T.DecimalType(12, 2)),
    ]))),
])
TABLE = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("s", T.StructType([T.StructField("x", T.IntegerType())])),
    T.StructField("int_array", T.ArrayType(T.IntegerType())),
    T.StructField("c_orders", T.ArrayType(ORDER)),
    T.StructField(
        "int_array_array", T.ArrayType(T.ArrayType(T.IntegerType()))
    ),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
])


def test_struct_field():
    assert _resolve_path(TABLE, ["s", "x"]) == [
        PathStep("field", "s", TABLE["s"].dataType),
        PathStep("field", "x", T.IntegerType()),
    ]


def test_item_of_scalar_array():
    assert _resolve_path(TABLE, ["int_array", "item"])[1:] == [
        PathStep("item", "item", T.IntegerType()),
    ]


def test_item_of_struct_array_then_field():
    assert _resolve_path(TABLE, ["c_orders", "item", "o_orderkey"])[1:] == [
        PathStep("item", "item", ORDER),
        PathStep("field", "o_orderkey", T.LongType()),
    ]


def test_item_of_nested_arrays():
    assert _resolve_path(TABLE, ["int_array_array", "item", "item"])[1:] == [
        PathStep("item", "item", T.ArrayType(T.IntegerType())),
        PathStep("item", "item", T.IntegerType()),
    ]


def test_field_of_array_of_struct_unnests_it():
    """``c_orders.o_lineitems`` is ``c_orders.item.o_lineitems``."""
    implicit = _resolve_path(TABLE, ["c_orders", "o_lineitems", "l_quantity"])
    assert implicit == _resolve_path(
        TABLE, ["c_orders", "item", "o_lineitems", "item", "l_quantity"]
    )
    assert [st.kind for st in implicit] == [
        "field", "item", "field", "item", "field",
    ]
    assert implicit[-1].dtype == T.DecimalType(12, 2)


def test_map_value_and_key():
    assert _resolve_path(TABLE, ["m", "value"])[1:] == [
        PathStep("value", "value", T.LongType()),
    ]
    assert _resolve_path(TABLE, ["m", "key"])[1:] == [
        PathStep("key", "key", T.StringType()),
    ]


def test_fields_match_case_insensitively():
    steps = _resolve_path(TABLE, ["C_ORDERS", "O_OrderKey"])
    assert [st.name for st in steps] == ["c_orders", "item", "o_orderkey"]
    assert _resolve_path(TABLE, ["M", "VALUE"])[1].kind == "value"
    assert _resolve_path(TABLE, ["int_array", "ITEM"])[1].kind == "item"


def test_unknown_segment_is_none():
    assert _resolve_path(TABLE, ["nope"]) is None
    assert _resolve_path(TABLE, ["s", "y"]) is None
    assert _resolve_path(TABLE, ["int_array", "x"]) is None  # no unnest
    assert _resolve_path(TABLE, ["m", "item"]) is None
    assert _resolve_path(TABLE, ["id", "item"]) is None  # through a scalar
    assert _resolve_path(TABLE, ["c_orders", "nope"]) is None
