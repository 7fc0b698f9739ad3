"""The calls each workload makes, and how each call's output is checked.

A call has two timed phases, as a user sees them: ``build`` returns the
program's result object (for a registry query, the DataFrame the query
function returns, which may already have run Spark jobs to produce it),
and ``action`` materializes it. ``check`` runs untimed after the first
timed call of each kind in a run and raises :class:`Mismatch` on a
wrong output.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any


class Mismatch(Exception):
    """The program's output differs from the expected output."""


@dataclass
class Call:
    name: str
    #: program module the call exercises; per-layer metrics are keyed by it
    layer: str
    #: input rows the call consumes, for ``rows_per_s``
    input_rows: int
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any, Any], None] = field(default=lambda built, out: None)
    #: calls sharing a lane build on each other and run in order
    lane: str | None = None


@dataclass
class StreamCall:
    """A file-stream drain: every file of ``source_dir`` is one micro-batch
    and each micro-batch counts as one call."""

    name: str
    source_dir: str
    input_rows: int
    #: (stream source DataFrame) -> streaming DataFrame to drain
    build: Callable[[Any], Any]
    output_mode: str
    #: (memory-sink table name) -> None, raises Mismatch
    check: Callable[[str], None]
    layer: str = "streaming"


class Collected:
    """A collected result that quacks like the DataFrame it came from, so
    the test suite's oracle comparison can reuse rows the timed action
    already fetched instead of running the query again."""

    def __init__(self, df, rows) -> None:
        self.schema, self.columns, self._rows = df.schema, df.columns, rows

    def collect(self):
        return self._rows


#: registry queries per workload: (name, module it exercises, tables read)
REGISTRY = {
    "iterate": [
        ("q117_pagerank", "graph", ("orders", "lineitem")),
        ("q78_kmeans", "clustering", ("embeddings",)),
        ("q131_ols", "classifier", ("lineitem",)),
        ("q19_pipeline", "transforms", ("customer",)),
    ],
    "corpus": [
        ("q42_minhash", "dedup", ("documents",)),
        ("q44_jaccard_pairs", "dedup", ("documents",)),
        ("q252_skipgram_pairs", "corpus", ("documents",)),
        ("q47_cosine_topk", "similarity", ("embeddings",)),
        ("q171_png_rgb_roundtrip", "multimodal", ("documents",)),
    ],
}


def registry_calls(ctx, workload: str) -> list[Call]:
    """Operator calls through the registry in ``__spark_entry__``, each
    checked against its ``oracle_sql()`` entry in DuckDB with the test
    suite's own comparison."""
    from tests.conftest import assert_df_matches_sql

    queries, oracle = ctx.entry.queries(), ctx.entry.oracle_sql()

    def make(name: str, layer: str, tables: tuple[str, ...]) -> Call:
        def check(df, rows) -> None:
            try:
                assert_df_matches_sql(Collected(df, rows), ctx.duck, oracle[name])
            except AssertionError as exc:
                raise Mismatch(str(exc)[:300]) from None

        return Call(
            name=name,
            layer=layer,
            input_rows=sum(ctx.rows[t] for t in tables),
            build=lambda: queries[name](ctx.spark, ctx.data_dir),
            action=lambda df: df.collect(),
            check=check,
        )

    return [make(*spec) for spec in REGISTRY[workload]]


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


def _same_float(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def wrangle_flow(ctx) -> list[Call]:
    """The pytrousse reference flow through the public library API, one
    call per step: read_csv -> profile -> repair -> FillNA/replace/encode
    -> bin/combine -> anonymize -> write_dataset/read_dataset. Each step
    starts from the previous step's dataset, as a user's session would,
    and is checked against what the generator wrote into the CSV."""
    from pytrousse_spark import io
    from pytrousse_spark.operators.anonymize import anonymize_data
    from pytrousse_spark.operators.binning import (
        combine_categorical_columns_to_one,
        split_continuous_column_into_bins,
    )
    from pytrousse_spark.operators.encoding import encode_multi_categorical_columns
    from pytrousse_spark.operators.repair import RowFix
    from pytrousse_spark.operators.transforms import FillNA, ReplaceStrings

    truth, n = ctx.truth, ctx.rows["dirty_csv"]
    csv = os.path.join(ctx.data_dir, "dirty.csv")
    state: dict[str, Any] = {}
    # vocabularies after FillNA and ReplaceStrings, in encoder code order
    breeds = sorted({b.replace("MONGREL", "MIXED") for b in truth["breed"]})
    sexes = sorted({s or "U" for s in truth["sex"]})

    def read():
        state["raw"] = io.read_csv(ctx.spark, csv, metadata_cols=("id", "notes"))
        return state["raw"]

    def check_read(ds, count) -> None:
        _expect(count == n, f"read_csv rows {count} != {n}")
        _expect(
            ds.columns == ["id", "breed", "sex", "age", "temp", "weight", "owner", "notes"],
            f"read_csv columns {ds.columns}",
        )

    def profile():
        return state["raw"].profile

    def check_profile(prof, _) -> None:
        want = {
            "numerical_cols": {"age"},
            "mixed_type_cols": {"temp", "weight"},
            "str_categorical_cols": {"breed", "sex"},
        }
        for attr, cols in want.items():
            got = set(getattr(prof, attr)) - {"id"}
            _expect(got == cols, f"profile.{attr} {sorted(got)} != {sorted(cols)}")

    def repair():
        fix = RowFix()
        state["fixed"] = fix.fix_common_errors(state["raw"])
        state["fix"] = fix
        return state["fixed"]

    def check_repair(ds, rows) -> None:
        _expect(not any(state["fix"].report.after_count.values()),
                f"unfixed cells left: {state['fix'].report.after_count}")
        got = sorted((int(r["id"]), r["temp"], r["weight"]) for r in rows)
        for i, temp, weight in got:
            if not (_same_float(temp, truth["temp"][i]) and _same_float(weight, truth["weight"][i])):
                raise Mismatch(
                    f"repair row {i}: ({temp}, {weight}) != ({truth['temp'][i]}, {truth['weight'][i]})"
                )
        _expect(len(got) == n, f"repair rows {len(got)} != {n}")

    def transform():
        ds = FillNA(["sex"], "U")(state["fixed"])
        ds = ReplaceStrings(["breed"], {"MONGREL": "MIXED"})(ds)
        state["encoded"] = encode_multi_categorical_columns(ds, columns=("breed", "sex"))
        return state["encoded"]

    def check_transform(ds, rows) -> None:
        for r in rows:
            i = int(r["id"])
            breed = truth["breed"][i].replace("MONGREL", "MIXED")
            sex = truth["sex"][i] or "U"
            if (r["breed"], r["sex"]) != (breed, sex) or (
                r["breed_enc"], r["sex_enc"]
            ) != (breeds.index(breed), sexes.index(sex)):
                raise Mismatch(f"encode row {i}: {r}")

    def binning():
        ds = split_continuous_column_into_bins(state["encoded"], "age", [3, 8, 12])
        ds, combo = combine_categorical_columns_to_one(ds, ("breed", "sex"))
        state["binned"], state["combo"] = ds, combo
        return ds

    def check_binning(ds, rows) -> None:
        for r in rows:
            i = int(r["id"])
            age = truth["age"][i]
            bin_id = sum(age >= t for t in (3, 8, 12))
            combo = breeds.index(r["breed"]) * len(sexes) + sexes.index(r["sex"])
            if r["age_bin_id"] != bin_id or r[state["combo"]] != combo:
                raise Mismatch(f"bin/combine row {i}: {r}")

    def anonymize():
        state["anon"], _private = anonymize_data(state["binned"], ["owner"], ["owner"], salt="bench")
        return state["anon"]

    def check_anonymize(ds, rows) -> None:
        _expect("owner" not in ds.columns, "owner column survived anonymization")
        owners: dict[str, Any] = {}
        for r in rows:
            owner = truth["owner"][int(r["id"])]
            if owners.setdefault(owner, r["ID_OWNER"]) != r["ID_OWNER"]:
                raise Mismatch(f"owner {owner} has two ID_OWNER values")
        _expect(len(set(owners.values())) == len(owners), "two owners share an ID_OWNER")

    def round_trip():
        path = os.path.join(ctx.scratch_dir, "dataset")
        shutil.rmtree(path, ignore_errors=True)
        io.write_dataset(state["anon"], path)
        return io.read_dataset(ctx.spark, path)

    def check_round_trip(back, rows) -> None:
        # The sidecar stores operator details as JSON, which has no tuples
        # and no integer keys, so the binning and combine records come back
        # with lists and string keys and plain ``==`` on the two lists is
        # False. The check compares what the sidecar can hold; the strict
        # result is reported on its own (``history_strict_equal``).
        ctx.findings["history_strict_equal"] = back.history == state["anon"].history
        _expect(
            json.loads(back.history.to_json()) == json.loads(state["anon"].history.to_json()),
            "read_dataset changed the OperationsList",
        )
        want = sorted(map(tuple, state["anon"].df.collect()))
        _expect(sorted(map(tuple, rows)) == want, "read_dataset returned other rows")

    collect = lambda ds: ds.df.collect()  # noqa: E731
    steps = [
        Call("read_csv", "io", n, read, lambda ds: ds.df.count(), check_read),
        Call("profile", "profiling", n, profile, lambda prof: None, check_profile),
        Call("fix_common_errors", "repair", n, repair,
             lambda ds: ds.df.select("id", "temp", "weight").collect(), check_repair),
        Call("fillna_replace_encode", "encoding", n, transform, collect, check_transform),
        Call("bin_combine", "binning", n, binning, collect, check_binning),
        Call("anonymize_data", "anonymize", n, anonymize, collect, check_anonymize),
        Call("write_read_dataset", "io", n, round_trip, collect, check_round_trip),
    ]
    for step in steps:
        step.lane = "flow"
    return steps


def near_dup_stream(ctx) -> StreamCall:
    """The near-dup alert stream (``applyInPandasWithState``) over the
    documents, fed in ``doc_id`` order one file per micro-batch, checked
    against its batch twin."""
    from pytrousse_spark.io import read_parquet_df
    from pytrousse_spark.streaming.neardup import near_dup_band_alerts

    def check(table: str) -> None:
        got = {tuple(r) for r in ctx.spark.table(table).collect()}
        batch = read_parquet_df(ctx.spark, os.path.join(ctx.data_dir, "documents.parquet"))
        want = {tuple(r) for r in near_dup_band_alerts(batch).collect()}
        _expect(len(want) > 0, "batch twin found no near-duplicates")
        _expect(got == want, f"stream alerts {len(got)} != batch twin's {len(want)}")

    return StreamCall(
        name="near_dup_band_alerts",
        source_dir=os.path.join(ctx.data_dir, "documents_stream"),
        input_rows=ctx.rows["documents"],
        build=near_dup_band_alerts,
        output_mode="update",
        check=check,
    )


def calls_for(ctx, workload: str) -> list:
    """One cycle of the workload's closed loop, in order."""
    if workload == "iterate":
        return wrangle_flow(ctx) + registry_calls(ctx, workload)
    return registry_calls(ctx, workload) + [near_dup_stream(ctx)]
