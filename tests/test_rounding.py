"""The package's one rounding rule (``functions/rounding.py``): the driver
helper and the Spark helpers equal DuckDB's ``round`` and its fixed-point
casts on tie-heavy inputs and on noise, and a source tripwire keeps every
other way of rounding or scaling out of the package."""

from __future__ import annotations

import ast
import math
import os
import random

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from pytrousse_spark.functions.rounding import (
    from_fixed,
    round_half_away,
    round_to,
    to_fixed,
)

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


def test_fixed_point_matches_duckdb(spark):
    """``to_fixed`` is DuckDB's ``CAST(round(x * 10^k) AS BIGINT)`` (or
    ``DECIMAL(38,0)`` when ``wide``) bit for bit, and ``from_fixed`` of it
    is DuckDB's ``round(x, k)``."""
    con = duckdb.connect()
    for k in (2, 6, 9, 12):
        vals = _tie_heavy(k, n=100) + [0.0000005, -0.0000005, 12.5, None]
        con.register("v", pd.DataFrame({"i": range(len(vals)), "x": vals}))
        df = spark.createDataFrame(list(enumerate(vals)), "i long, x double")
        for wide, sql_type in ((False, "BIGINT"), (True, "DECIMAL(38,0)")):
            duck = con.sql(
                f"SELECT CAST(round(x * CAST({10 ** k} AS DOUBLE)) AS {sql_type}),"
                f" round(x, {k}) FROM v ORDER BY i"
            ).fetchall()
            rows = df.select(
                "i",
                to_fixed(F.col("x"), k, wide).alias("fixed"),
                from_fixed(to_fixed(F.col("x"), k, wide), k).alias("back"),
            ).orderBy("i").collect()
            assert [r["fixed"] for r in rows] == [d[0] for d in duck], (k, wide)
            assert [r["back"] for r in rows] == [d[1] for d in duck], (k, wide)


def test_to_fixed_scales_in_the_column_type(spark):
    """A DECIMAL column scales in its own type, as the twins'
    ``CAST(round(v * 100, 0) AS BIGINT)`` does: 1.005 stays a decimal tie
    and rounds to 101, not to the 100 of the double 1.00499..."""
    vals = ["1.005", "-1.005", "2.675", "0.125", "123.455"]
    rows = ", ".join(f"({i}, CAST({v} AS DECIMAL(10,3)))" for i, v in enumerate(vals))
    con = duckdb.connect()
    duck = con.sql(
        f"SELECT CAST(round(v * 100, 0) AS BIGINT) FROM (VALUES {rows}) t(i, v)"
        " ORDER BY i"
    ).fetchall()
    got = spark.sql(f"SELECT * FROM VALUES {rows} AS t(i, v)").select(
        "i", to_fixed(F.col("v"), 2).alias("c")
    ).orderBy("i").collect()
    assert [r["c"] for r in got] == [d[0] for d in duck] == [101, -101, 268, 13, 12346]


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


def _power_of_ten(node) -> bool:
    """``node`` is a literal 10^k, k >= 1: ``100``, ``1e9``,
    ``1_000_000``, ``10 ** 6``, optionally inside ``F.lit`` or
    ``float``."""
    if isinstance(node, ast.Call) and node.args and (
        (isinstance(node.func, ast.Attribute) and node.func.attr == "lit")
        or (isinstance(node.func, ast.Name) and node.func.id == "float")
    ):
        return _power_of_ten(node.args[0])
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Pow):
        return isinstance(node.left, ast.Constant) and node.left.value == 10
    v = node.value if isinstance(node, ast.Constant) else None
    return (
        isinstance(v, (int, float))
        and not isinstance(v, bool)
        and any(v == 10 ** k for k in range(1, 23))
    )


def _is_fixed_cast(node) -> bool:
    """``F.round(x * 10^k, 0)``, cast or not: :func:`to_fixed` by hand."""
    return (
        _is_f_round(node)
        and _scale_zero(node)
        and bool(node.args)
        and isinstance(node.args[0], ast.BinOp)
        and isinstance(node.args[0].op, ast.Mult)
        and _power_of_ten(node.args[0].right)
    )


def _is_scale_helper(node) -> bool:
    """A lambda or def whose body is a scaled round, or one value divided
    by a power of ten: a local copy of :func:`to_fixed` /
    :func:`from_fixed`. (A formula that ends in a scale division, like
    ``a * b * fold / 1e12``, is not a copy: its order of operations is its
    own.)"""
    if isinstance(node, ast.Lambda):
        bodies = [node.body]
    elif isinstance(node, ast.FunctionDef):
        bodies = [
            st.value for st in node.body if isinstance(st, ast.Return) and st.value
        ]
    else:
        return False
    for body in bodies:
        while (
            isinstance(body, ast.Call)
            and isinstance(body.func, ast.Attribute)
            and body.func.attr == "cast"
        ):
            body = body.func.value
        if _is_fixed_cast(body) or (
            isinstance(body, ast.BinOp)
            and isinstance(body.op, ast.Div)
            and not isinstance(body.left, ast.BinOp)
            and _power_of_ten(body.right)
        ):
            return True
    return False


_SCALE_NAMES = ("NANO", "PICO", "MICRO")


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
        elif _is_fixed_cast(node):
            out.append(f"{where}: hand-written fixed-point cast (use to_fixed)")
        elif _is_scale_helper(node):
            out.append(f"{where}: local scale helper (use to_fixed / from_fixed)")
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
                if isinstance(t, ast.Name) and any(n in t.id for n in _SCALE_NAMES):
                    out.append(
                        f"{rel}:{node.lineno}: scale constant {t.id} (use to_fixed)"
                    )
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
    banned = [
        "_MICRO = 1_000_000",
        "a = F.round(x, 6)",
        "b = F.round(x * F.lit(1e6), 0) / F.lit(1e6)",
        "c = round(y, 3)",
        "d = F.expr('round(v, 2)')",
        "e = F.round(x * F.lit(1e6), 0).cast('bigint')",
        "f = F.round(F.col('v').cast('double') * 100, 0)",
        "nano = lambda c: F.round(c * F.lit(1e9), 0).cast('decimal(38,0)')",
        "toval = lambda c: c.cast('double') / F.lit(100.0)",
        "def _micro(fold): return F.col(fold).cast('double') / F.lit(1e8)",
        "_MARKOV_NANO = 1_000_000_000",
        "PICO = 10 ** 12",
    ]
    allowed = [
        "g = to_fixed(F.col('v'), 9, wide=True)",
        "h = from_fixed(F.sum('g'), 9) / F.count(F.lit(1))",
        "i = F.round(x, 0)",
        "def _stat(fold): return nn * F.col(fold).cast('double') / F.lit(1e12)",
        "def _fold_value(fold): return from_fixed(F.col(fold), 8)",
    ]
    src = tmp_path / "m.py"
    src.write_text("\n".join(banned + allowed) + "\n")
    flagged = {int(v.split(":")[1]) for v in _violations(str(src))}
    assert flagged == set(range(1, len(banned) + 1))
