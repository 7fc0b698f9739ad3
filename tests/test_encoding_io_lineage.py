"""B6-B8 orchestration, S3/S4 persistence, L1-L6 lineage."""

from __future__ import annotations

import os

import pytest

from pytrousse_spark import (
    from_df,
    read_dataset,
    write_dataset,
)
from pytrousse_spark.exceptions import (
    DatasetSidecarError,
    MultipleOperationsFoundError,
)
from pytrousse_spark.operations import OperationsList, OpRecord
from pytrousse_spark.operators.encoding import (
    convert_features_from_bool_to_binary,
    encode_multi_categorical_columns,
    encode_single_categorical_column,
)
from pytrousse_spark.operators.transforms import FillNA


def test_encode_single_ordinal_nan_and_fold(spark):
    ds = from_df(spark.createDataFrame([("red",), ("Red",), ("blue",), (None,)], ["color"]))
    out = encode_single_categorical_column(ds, "color", encoding="ORDINAL")
    rows = {r["color"]: r["color_enc"] for r in out.df.collect()}
    # case fold merges red/Red; vocab sorted: Blue=0, Nan=1, Red=2
    assert rows["red"] == rows["Red"] == 2
    assert rows["blue"] == 0
    assert rows[None] is None  # NULL restored after encoding
    m = out.history[-1].details["encoded_values_map"]
    assert m == {0: "Blue", 1: "Nan", 2: "Red"}


def test_encode_single_onehot_drops_nan_category(spark):
    ds = from_df(spark.createDataFrame([("red",), ("blue",), (None,)], ["color"]))
    out = encode_single_categorical_column(ds, "color", encoding="ONEHOT")
    assert set(out.columns) == {"color", "color_Blue_enc", "color_Red_enc"}
    null_row = [r for r in out.df.collect() if r["color"] is None][0]
    assert null_row["color_Blue_enc"] is None and null_row["color_Red_enc"] is None


def test_encode_single_skips_numeric_and_encoded(spark):
    ds = from_df(spark.createDataFrame([(1,), (2,)], ["n"]))
    out = encode_single_categorical_column(ds, "n")
    assert out.columns == ["n"]  # numeric → skipped
    ds2 = from_df(spark.createDataFrame([("a",), ("b",)], ["c"]))
    once = encode_single_categorical_column(ds2, "c")
    twice = encode_single_categorical_column(once, "c")
    assert twice.columns == once.columns  # already encoded → skipped
    # force=True re-encodes numerics
    forced = encode_single_categorical_column(ds, "n", force=True)
    assert "n_enc" in forced.columns


def test_encode_multi(spark):
    ds = from_df(
        spark.createDataFrame([("a", "x", 1), ("b", "y", 2)], ["c1", "c2", "n"])
    )
    out = encode_multi_categorical_columns(ds, columns=("c1", "c2"))
    assert {"c1_enc", "c2_enc"} <= set(out.columns)


def test_bool_to_binary(spark):
    ds = from_df(spark.createDataFrame([(True, 1), (False, 2)], ["b", "n"]))
    out = convert_features_from_bool_to_binary(ds)
    assert dict(out.df.dtypes)["b"] == "int"
    assert [r["b"] for r in out.df.collect()] == [1, 0]


def test_persistence_roundtrip(spark, tmp_path):
    ds = from_df(
        spark.createDataFrame([("a", None), ("b", "y")], ["k", "v"]),
        metadata_cols=("k",),
    )
    out = FillNA(["v"], "z", derived_columns=["v2"])(ds)
    path = os.path.join(tmp_path, "ds")
    write_dataset(out, path)
    back = read_dataset(spark, path)
    assert back.metadata_cols == {"k"}
    assert back.derived_columns == {"v2"}
    assert [op.name for op in back.history] == ["FillNA"]
    assert sorted(r["v2"] for r in back.df.collect()) == ["y", "z"]


def test_persistence_roundtrip_history_equal(spark, tmp_path):
    """Binning and combine records hold tuples and int keys, which JSON
    stores as lists and strings; the history read back still compares
    equal to the one written."""
    from pytrousse_spark.operators.binning import (
        combine_categorical_columns_to_one,
        split_continuous_column_into_bins,
    )

    ds = from_df(
        spark.createDataFrame(
            [(1.0, "a", "x"), (5.0, "b", "y"), (9.0, "a", None)], ["n", "c1", "c2"]
        )
    )
    ds = split_continuous_column_into_bins(ds, "n", [3, 6])
    ds, _ = combine_categorical_columns_to_one(ds, ("c1", "c2"), include_nan=True)
    path = os.path.join(tmp_path, "ds")
    write_dataset(ds, path)
    back = read_dataset(spark, path)
    assert isinstance(ds.history[1].details["encoded_values_map"][0], tuple)
    assert isinstance(back.history[1].details["encoded_values_map"]["0"], list)
    assert back.history == ds.history
    assert hash(back.history[0]) == hash(ds.history[0])
    assert back.history[1] != ds.history[0]


def test_persistence_sidecar_errors(spark, tmp_path):
    with pytest.raises(DatasetSidecarError):
        read_dataset(spark, str(tmp_path))


def test_lineage_queries():
    ops = OperationsList()
    ops += OpRecord(name="FillNA", columns=("a",), derived_columns=("b",))
    ops += OpRecord(name="OrdinalEncoder", columns=("b",), derived_columns=("c",))
    ops += OpRecord(name="ReplaceStrings", columns=("a",))
    assert ops.derived_columns_from_col("a") == {"b"}
    assert [o.name for o in ops["a"]] == ["FillNA", "ReplaceStrings"]
    assert isinstance(ops[1], OpRecord) and ops[1].name == "OrdinalEncoder"
    assert ops.original_columns_from_derived_column("c") == ("b",)
    assert [o.name for o in ops.operations_from_original_column("b")] == [
        "OrdinalEncoder"
    ]
    with pytest.raises(MultipleOperationsFoundError):
        ops.original_columns_from_derived_column("zz")
    # json round trip
    back = OperationsList.from_json(ops.to_json())
    assert back == ops
