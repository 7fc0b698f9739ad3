"""The package's one rounding rule (``functions/rounding.py``): the driver
helper and the Spark helper both equal DuckDB's ``round`` on tie-heavy
inputs and on noise, and a source tripwire keeps every other way of
rounding out of the package."""

from __future__ import annotations

import ast
import math
import os
import random

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from pytrousse_spark.functions.rounding import MICRO, micro, round_half_away, round_to

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_ROOT, "pytrousse_spark")
_ROUNDING = os.path.join(_PKG, "functions", "rounding.py")


def test_ties_round_away_from_zero():
    assert round_half_away(0.5) == 1.0
    assert round_half_away(1.5) == 2.0      # banker's would give 2.0 too
    assert round_half_away(2.5) == 3.0      # banker's would give 2.0
    assert round_half_away(-2.5) == -3.0
    assert round_half_away(0.125, 2) == 0.13   # banker's: 0.12
    assert round_half_away(-0.125, 2) == -0.13


def _tie_heavy(k: int, n: int = 300) -> list[float]:
    """Doubles at or next to a decimal tie at ``k`` digits: halvings and
    means of two ``k``-decimal values, products of two of them, plus
    random doubles."""
    rnd = random.Random(k)
    q = 10 ** k
    vals = [0.5, 1.5, 2.5, -2.5, 0.125, -0.125, 3.14159, -2.71828,
            1234.56785, 0.0, -0.0, 1e-7, -0.5 * 0.064103, 0.03125, 0.00015]
    for _ in range(n):
        a = rnd.randint(-100 * q, 100 * q) / q
        b = rnd.randint(-100 * q, 100 * q) / q
        vals += [a / 2, (a + b) / 2, a * b, (0.5 - 1) * a,
                 rnd.uniform(-1e3, 1e3)]
    return vals


def _duck_round(vals: list[float], k: int) -> list[float]:
    con = duckdb.connect()
    con.register("v", pd.DataFrame({"i": range(len(vals)), "x": vals}))
    return [r[0] for r in con.sql(f"SELECT round(x, {k}) FROM v ORDER BY i").fetchall()]


def test_matches_duckdb_round_on_ties_and_noise(spark):
    """``round_half_away`` on the driver and ``round_to`` in Spark give
    DuckDB's ``round(DOUBLE, k)`` bit for bit; Spark's own
    ``F.round(x, k)`` does not (it rounds the decimal string)."""
    for k in (0, 2, 4, 6):
        vals = _tie_heavy(k)
        duck = _duck_round(vals, k)
        for v, d in zip(vals, duck):
            assert round_half_away(v, k) == d, (v, k)
        if k == 0:
            continue
        df = spark.createDataFrame(list(enumerate(vals)), "i long, x double")
        rows = df.select(
            "i",
            round_to(F.col("x"), k).alias("helper"),
            F.round("x", k).alias("string_rule"),
        ).orderBy("i").collect()
        assert [r["helper"] for r in rows] == duck, k
        assert [r["string_rule"] for r in rows] != duck, k


def test_micro_is_the_scaled_integer(spark):
    vals = [0.0000005, -0.0000005, 0.064103, -0.0320515, 12.5, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.select(micro(F.col("x"))).collect()]
    want = [None if v is None else int(round_half_away(v * MICRO)) for v in vals]
    assert got == want


def test_nan_inf_pass_through():
    assert math.isnan(round_half_away(float("nan")))
    assert round_half_away(float("inf")) == float("inf")
    assert round_half_away(float("-inf")) == float("-inf")


# --- tripwire: no other rounding rule in the package -----------------------


def _is_f_round(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "round"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _scale_zero(call: ast.Call) -> bool:
    scale = call.args[1] if len(call.args) > 1 else None
    for kw in call.keywords:
        if kw.arg == "scale":
            scale = kw.value
    return scale is None or (isinstance(scale, ast.Constant) and scale.value == 0)


def _is_scaled_round(node) -> bool:
    """``F.round(x * C, 0) / C``: :func:`round_to` written out by hand."""
    return (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Div)
        and _is_f_round(node.left)
        and _scale_zero(node.left)
        and bool(node.left.args)
        and isinstance(node.left.args[0], ast.BinOp)
        and isinstance(node.left.args[0].op, ast.Mult)
        and ast.dump(node.left.args[0].right) == ast.dump(node.right)
    )


def _spark_sql_strings(call: ast.Call):
    """String constants passed to ``F.expr`` / ``expr`` / ``selectExpr``."""
    fn = call.func
    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
    if name not in ("expr", "selectExpr"):
        return
    for arg in call.args:
        for sub in ast.walk(arg):
            if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
                yield sub.value


def _violations(path: str) -> list[str]:
    with open(path) as fh:
        tree = ast.parse(fh.read())
    rel = os.path.relpath(path, _ROOT)
    out = []
    for node in ast.walk(tree):
        where = f"{rel}:{getattr(node, 'lineno', 0)}"
        if _is_f_round(node) and not _scale_zero(node):
            out.append(f"{where}: F.round with a non-zero scale (use round_to)")
        elif _is_scaled_round(node):
            out.append(f"{where}: hand-written scaled round (use round_to)")
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and node.func.id == "round":
            out.append(f"{where}: built-in round (use round_half_away)")
        elif isinstance(node, ast.Call):
            for s in _spark_sql_strings(node):
                if "round(" in s.lower():
                    out.append(f"{where}: round( in Spark SQL text (use round_to)")
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and "MICRO" in t.id:
                    out.append(f"{rel}:{node.lineno}: scale constant {t.id} (use MICRO)")
    return out


def _package_files():
    for dirpath, _, files in os.walk(_PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_one_rounding_rule_in_the_package():
    hits = [v for p in _package_files() if p != _ROUNDING for v in _violations(p)]
    assert not hits, "round through pytrousse_spark.functions.rounding:\n" + "\n".join(hits)


def test_tripwire_sees_each_banned_form(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "_MICRO = 1_000_000\n"
        "a = F.round(x, 6)\n"
        "b = F.round(x * F.lit(1e6), 0) / F.lit(1e6)\n"
        "c = round(y, 3)\n"
        "d = F.expr('round(v, 2)')\n"
        "e = F.round(x * F.lit(1e6), 0).cast('bigint')\n"
    )
    assert len(_violations(str(src))) == 5
