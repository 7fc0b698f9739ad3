"""Encoding orchestration (SURVEY.md §2.6 B6-B8; feature_fix.py:242-422)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..dataset import Dataset
from ..operations import OpRecord
from .transforms import OneHotEncoder, OrdinalEncoder

#: feature_fix.py:15
NAN_CATEGORY = "Nan"


def _is_numerical_column(dataset: Dataset, col_name: str) -> bool:
    """The profiler's ``numerical_cols`` classification for ONE column.

    The skip-if-numeric gate only needs a single column's class; computing
    ``dataset.profile`` here would stack and aggregate every column of the
    table per encode call (the profile pass plus, for low-cardinality
    columns, its exact distinct re-check) — O(width²) total for
    ``encode_multi_categorical_columns``, since each encode step yields a
    new dataset without a cached profile.
    A cached profile is reused when present; otherwise a numeric/bool/interval
    type answers from the schema alone, and only a string column costs one
    narrow parse-ratio aggregation.
    """
    if dataset._profile is not None:
        return col_name in dataset._profile.numerical_cols
    from ..profiling import _is_numeric_type

    dt = dataset.df.schema[col_name].dataType
    if _is_numeric_type(dt) or isinstance(dt, T.BooleanType):
        return True
    if dt.simpleString().startswith("struct<lower"):
        return True  # interval struct → numerical (dataset.py:334)
    if isinstance(dt, T.StringType):
        col = F.col(f"`{col_name}`")
        row = dataset.df.agg(
            F.count(col).alias("cnt"),
            F.avg(
                F.when(col.isNotNull(), col.try_cast("double").isNotNull().cast("double"))
            ).alias("pr"),
        ).collect()[0]
        return row["cnt"] > 0 and row["pr"] == 1.0
    return False


def encode_single_categorical_column(
    dataset: Dataset,
    col_name: str,
    encoding: str = "ORDINAL",
    force: bool = False,
    case_sensitive: bool = False,
) -> Dataset:
    """Orchestrated encode of one categorical column (feature_fix.py:242-349).

    Parity flow:
    1. skip if already encoded (history lookup) or numeric, unless ``force``
       (feature_fix.py:285-297);
    2. NULL → the ``"Nan"`` placeholder category so it gets encoded, then
       restored to NULL afterwards (feature_fix.py:302-304, 328-330);
    3. optional case fold via title-case so differing capitalization merges
       (feature_fix.py:306-307; ``initcap`` ≈ ``str.title`` — they differ on
       capitals after non-space separators, documented deviation);
    4. encode (ORDINAL → ``{col}_enc`` codes; ONEHOT → per-category booleans);
    5. history records the encoded_values_map.

    The whole flow stays one lazy plan plus the encoder's single bounded
    distinct-collect.
    """
    already = any(
        op.name in ("OneHotEncoder", "OrdinalEncoder")
        and col_name in op.columns
        for op in dataset.history
    )
    if not force:
        if already:
            return dataset
        if _is_numerical_column(dataset, col_name):
            return dataset

    work = dataset
    prep = F.col(col_name).cast("string")
    if not case_sensitive:
        prep = F.initcap(F.lower(prep))
    prep = F.coalesce(prep, F.lit(NAN_CATEGORY))
    work = work.evolve(df=work.df.withColumn("__prep", prep))

    if encoding.upper() == "ORDINAL":
        enc = OrdinalEncoder(columns=["__prep"], derived_columns=[f"{col_name}_enc"])
        encoded = enc(work)
        restore = {
            f"{col_name}_enc": F.when(
                F.col(col_name).isNull(), F.lit(None)
            ).otherwise(F.col(f"{col_name}_enc"))
        }
        new_cols = (f"{col_name}_enc",)
    elif encoding.upper() == "ONEHOT":
        enc = OneHotEncoder(columns=["__prep"], derived_column_suffix="_enc")
        encoded = enc(work)
        onehot_rec = [
            op for op in encoded.history if op.name == "OneHotEncoder"
        ][-1]
        # rename __prep_... outputs to {col}_... and drop the Nan-category
        # column (feature_fix.py:259-262: NAN_CATEGORY col dropped)
        renames: dict[str, F.Column] = {}
        drops = ["__prep"]
        new_cols = []
        for dc in onehot_rec.derived_columns:
            cat = dc[len("__prep_") : -len("_enc")]
            drops.append(dc)
            if cat == NAN_CATEGORY:
                continue
            name = f"{col_name}_{cat}_enc"
            renames[name] = F.when(
                F.col(col_name).isNull(), F.lit(None).cast("boolean")
            ).otherwise(F.col(dc))
            new_cols.append(name)
        df = encoded.df.withColumns(renames).drop(*drops)
        details = onehot_rec.details
        return dataset.evolve(
            df=df,
            record=OpRecord(
                name="encode_single_categorical_column",
                columns=(col_name,),
                derived_columns=tuple(new_cols),
                details={"encoding": "ONEHOT", **details},
            ),
            new_derived=tuple(new_cols),
        )
    else:
        raise ValueError(f"Unknown encoding {encoding!r} (ORDINAL or ONEHOT)")

    df = encoded.df.withColumns(restore).drop("__prep")
    details = [op.details for op in encoded.history if op.name == "OrdinalEncoder"][-1]
    return dataset.evolve(
        df=df,
        record=OpRecord(
            name="encode_single_categorical_column",
            columns=(col_name,),
            derived_columns=new_cols,
            details={"encoding": "ORDINAL", **details},
        ),
        new_derived=new_cols,
    )


def encode_multi_categorical_columns(
    dataset: Dataset,
    columns: tuple[str, ...] | None = None,
    encoding: str = "ORDINAL",
) -> Dataset:
    """B6 over all (or the given) categorical columns (feature_fix.py:352-397).

    Column order pinned to sorted() for deterministic output schemas (the
    reference iterates an unordered set).
    """
    if columns is None:
        columns = tuple(sorted(dataset.profile.str_categorical_cols))
    for col in columns:
        dataset = encode_single_categorical_column(dataset, col, encoding=encoding)
    return dataset


def convert_features_from_bool_to_binary(
    dataset: Dataset, col_names: tuple[str, ...] | None = None
) -> Dataset:
    """bool → 0/1 int (feature_fix.py:400-422)."""
    if col_names is None:
        col_names = tuple(sorted(dataset.profile.bool_cols))
    df = dataset.df.withColumns(
        {c: F.col(c).cast("int") for c in col_names}
    )
    return dataset.evolve(
        df=df,
        record=OpRecord(
            name="convert_features_from_bool_to_binary",
            columns=tuple(col_names),
            details={},
        ),
    )
