"""Cohort retention + funnel laws (operators/cohort.py)."""

from __future__ import annotations

from datetime import datetime

from pytrousse_spark.io import read_parquet_df
from pytrousse_spark.operators.cohort import cohort_retention, funnel_steps
from tests.conftest import SF_DIR


def test_retention_offset_zero_is_one(spark):
    """Defining law: every user is active in their own first period, so
    offset 0 has n_active == cohort_size and retention 1.0."""
    ev = read_parquet_df(spark, f"{SF_DIR}/events.parquet")
    rows = cohort_retention(ev, "user_id", "ts", period="day").collect()
    zero = [r for r in rows if r["period_offset"] == 0]
    assert zero and all(
        r["n_active"] == r["cohort_size"] and r["retention"] == 1.0
        for r in zero
    )
    # every cell: 0 < n_active <= cohort_size, offsets non-negative
    assert all(
        0 < r["n_active"] <= r["cohort_size"] and r["period_offset"] >= 0
        for r in rows
    )


def test_retention_handcrafted_week(spark):
    ts = datetime
    df = spark.createDataFrame(
        [
            (1, ts(2024, 1, 1)),   # week of Jan 1 (Monday)
            (1, ts(2024, 1, 10)),  # active week 1
            (2, ts(2024, 1, 2)),   # same cohort, never returns
            (3, ts(2024, 1, 9)),   # cohort week of Jan 8
        ],
        ["user_id", "ts"],
    )
    got = {
        (str(r["cohort"]), r["period_offset"]): (r["n_active"], r["retention"])
        for r in cohort_retention(df, "user_id", "ts", "week").collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 1.0),
        ("2024-01-01", 1): (1, 0.5),
        ("2024-01-08", 0): (1, 1.0),
    }


def test_funnel_monotone_and_ordered(spark):
    """Counts never increase step to step, and an out-of-order event
    (click BEFORE the user's first view) does not convert."""
    ts = datetime
    df = spark.createDataFrame(
        [
            (1, ts(2024, 1, 1, 10), "view"),
            (1, ts(2024, 1, 1, 11), "click"),   # converts
            (2, ts(2024, 1, 1, 9), "click"),    # click before any view
            (2, ts(2024, 1, 1, 10), "view"),
            (3, ts(2024, 1, 1, 8), "view"),
        ],
        ["user_id", "ts", "event_type"],
    )
    rows = {
        r["step"]: r
        for r in funnel_steps(
            df, "user_id", "ts", "event_type", ["view", "click"]
        ).collect()
    }
    assert rows["view"]["n_users"] == 3
    assert rows["click"]["n_users"] == 1  # only user 1 clicks after viewing
    assert rows["click"]["pct_of_first"] == round(1 / 3, 6)
    assert rows["view"]["pct_of_prev"] == 1.0


def test_funnel_same_timestamp_counts(spark):
    """A step event AT the previous conversion time converts (>= not >)."""
    t = datetime(2024, 1, 1, 12)
    df = spark.createDataFrame(
        [(1, t, "view"), (1, t, "click")], ["user_id", "ts", "event_type"]
    )
    rows = {
        r["step"]: r["n_users"]
        for r in funnel_steps(
            df, "user_id", "ts", "event_type", ["view", "click"]
        ).collect()
    }
    assert rows == {"view": 1, "click": 1}


def test_time_to_convert_buckets(spark):
    from datetime import datetime

    from pytrousse_spark.operators.cohort import time_to_convert

    ts = datetime
    df = spark.createDataFrame(
        [
            (1, ts(2024, 1, 1, 10, 0), "view"),
            (1, ts(2024, 1, 1, 10, 10), "buy"),   # 10 min -> <=30m
            (2, ts(2024, 1, 1, 9, 0), "view"),
            (2, ts(2024, 1, 1, 11, 0), "buy"),    # 120 min -> 60-180m
            (3, ts(2024, 1, 1, 9, 0), "view"),    # never buys
        ],
        ["user_id", "ts", "event_type"],
    )
    got = {
        r["bucket"]: r["n_users"]
        for r in time_to_convert(
            df, "user_id", "ts", "event_type", ["view", "buy"]
        ).collect()
    }
    assert got == {"<= 30m": 1, "60-180m": 1}


def test_ab_test_known_rates(spark):
    import datetime as dt

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import ab_test_conversion

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(200):
        rows.append((u, t0, "view"))
        # every 2nd user converts AFTER exposure; every 40th converted
        # BEFORE exposure only (must not count)
        if u % 2 == 0:
            rows.append((u, t0 + dt.timedelta(hours=1), "purchase"))
        elif u % 40 == 1:
            rows.append((u, t0 - dt.timedelta(hours=1), "purchase"))
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    (r,) = ab_test_conversion(
        df, "user_id", "event_type", "view", "purchase"
    ).collect()
    assert r["n_a"] + r["n_b"] == 200
    assert r["conv_a"] + r["conv_b"] == 100  # pre-exposure purchases excluded
    # arms are hash-balanced-ish and both rates near 0.5 -> insignificant
    assert abs(r["rate_a"] - 0.5) < 0.2 and abs(r["rate_b"] - 0.5) < 0.2
    assert r["significant"] in (True, False)


def test_ab_test_honors_ts_col(spark):
    """Round-5 ADVICE fix: the event-timestamp column is a parameter
    (both engines), not a hardcoded 'ts'."""
    import datetime as dt

    import duckdb

    from pytrousse_spark.operators.cohort import (
        ab_test_conversion,
        ab_test_conversion_sql,
    )
    from tests.conftest import assert_df_matches_sql

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(60):
        rows.append((u, t0, "view"))
        if u % 3 == 0:
            rows.append((u, t0 + dt.timedelta(hours=1), "purchase"))
    df = spark.createDataFrame(
        rows, "user_id bigint, event_time timestamp, event_type string"
    )
    got = ab_test_conversion(
        df, "user_id", "event_type", "view", "purchase", ts_col="event_time"
    )
    (r,) = got.collect()
    assert r["n_a"] + r["n_b"] == 60 and r["conv_a"] + r["conv_b"] == 20
    pdf = df.toPandas()  # noqa: F841 — registered by name below
    con = duckdb.connect()
    con.sql("CREATE TABLE ev AS SELECT * FROM pdf")
    sql = ab_test_conversion_sql(
        "ev", "user_id", "event_type", "view", "purchase", ts_col="event_time"
    )
    assert_df_matches_sql(got, con, sql)
    con.close()


def test_ab_test_detects_planted_effect(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import ab_test_conversion
    from pytrousse_spark.functions.hashing import h60

    t0 = dt.datetime(2024, 1, 1)
    # plant the effect USING the same arm hash the operator uses:
    # arm 0 converts 90%, arm 1 converts 10%
    base = spark.range(0, 400).select(F.col("id").alias("user_id"))
    arm = (h60(F.concat(F.lit("ab|"), F.col("user_id").cast("string"))) % 2)
    users = base.select("user_id", arm.alias("arm")).collect()
    rows = []
    for r in users:
        u, a = r["user_id"], r["arm"]
        rows.append((u, t0, "view"))
        if (a == 0 and u % 10 != 0) or (a == 1 and u % 10 == 0):
            rows.append((u, t0 + dt.timedelta(hours=2), "purchase"))
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    (out,) = ab_test_conversion(
        df, "user_id", "event_type", "view", "purchase"
    ).collect()
    assert out["significant"] is True
    assert abs(out["z"]) > 10


def test_unordered_funnel_histogram_and_window(spark):
    import datetime as dt

    from pytrousse_spark.operators.cohort import unordered_funnel

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: all three steps within 1h (order scrambled!)
        (1, t0, "b"), (1, t0 + dt.timedelta(minutes=10), "a"),
        (1, t0 + dt.timedelta(minutes=20), "c"),
        # user 2: all three but spread over 5 days
        (2, t0, "a"), (2, t0 + dt.timedelta(days=5), "b"),
        (2, t0 + dt.timedelta(days=5, minutes=1), "c"),
        # user 3: two steps
        (3, t0, "a"), (3, t0, "c"),
        # user 4: one step, repeated (dedup to 1)
        (4, t0, "b"), (4, t0 + dt.timedelta(hours=1), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    out = {
        r["n_steps_present"]: r
        for r in unordered_funnel(
            df, "user_id", "ts", "event_type", ["a", "b", "c"],
            window_hours=24,
        ).collect()
    }
    assert out[3]["n_users"] == 2
    assert out[3]["n_within_window"] == 1  # user 2 exceeds the 24h window
    assert out[2]["n_users"] == 1 and out[2]["n_within_window"] is None
    assert out[1]["n_users"] == 1


def test_benford_conforming_and_total(spark):
    import math
    import random

    import pytest as _pytest

    from pytrousse_spark.profiling import benford_test

    # log-uniform magnitudes follow Benford closely
    rng = random.Random(3)
    vals = [10 ** rng.uniform(0, 5) for _ in range(20000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    rows = benford_test(df, "v").collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert sum(r["n"] for r in rows) == 20000
    for r in rows:
        assert r["expected"] == _pytest.approx(
            math.log10(1 + 1 / r["digit"]), abs=1e-6
        )
        assert abs(r["observed"] - r["expected"]) < 0.01
    # conforming data: total chi2 stays small (9 dof; 21.7 is p=0.01)
    assert rows[0]["chi2_total"] < 22
    # non-positive and NULL values excluded
    df2 = spark.createDataFrame(
        [(100.0,), (-5.0,), (0.0,), (None,)], "v double"
    )
    rows2 = benford_test(df2, "v").collect()
    assert sum(r["n"] for r in rows2) == 1


def test_linear_attribution_conserves_credit(spark):
    """The operator's core law: total credited value == total purchase
    value EXACTLY (integer micro-units, remainder to earliest touch);
    touchless purchases keep full credit under channel NULL."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import linear_attribution

    d = datetime
    purchases = spark.createDataFrame(
        [
            (1, 100, d(2024, 1, 10), 10.000001),  # 3 touches: 10.000001/3
            (2, 200, d(2024, 1, 10), 7.5),        # 1 touch
            (3, 300, d(2024, 1, 10), 4.25),       # no touches -> NULL
        ],
        ["user_id", "event_id", "ts", "value"],
    )
    touches = spark.createDataFrame(
        [
            (1, d(2024, 1, 9), "a"),
            (1, d(2024, 1, 9, 12), "b"),
            (1, d(2024, 1, 10), "a"),
            (2, d(2024, 1, 8), "c"),
            (1, d(2023, 12, 1), "a"),  # outside the 3-day window
        ],
        ["user_id", "v_ts", "ch"],
    )
    out = linear_attribution(
        purchases, touches,
        user_col="user_id", purchase_id_col="event_id",
        purchase_ts_col="ts", value_col="value",
        touch_ts_col="v_ts", channel_col="ch",
    ).collect()
    by = {r["channel"]: r for r in out}
    total = sum(r["credit"] for r in out)
    assert round(total, 6) == round(10.000001 + 7.5 + 4.25, 6)
    assert by[None]["credit"] == 4.25 and by[None]["n_touches"] == 0
    assert by["c"]["credit"] == 7.5
    # user 1: 10000001 micro / 3 = 3333333 r2; earliest touch (channel a
    # at 1/9) takes the remainder: a = 3333333+2 + 3333333 = 6666668
    assert by["a"]["credit"] == 6.666668
    assert by["b"]["credit"] == 3.333333
    assert by["a"]["n_touches"] == 2 and by["b"]["n_touches"] == 1


def test_linear_attribution_scalable_equals_pairwise(spark):
    """The count-based decomposition must reproduce the pairwise
    operator bit-for-bit: random dense data plus adversarial edges —
    exact window-edge ties (t-w), same-ts channel ties for the
    remainder, NULL user/ts/channel, purchases with empty windows,
    buckets with no touches."""
    import random
    from datetime import datetime, timedelta

    from pytrousse_spark.operators.cohort import (
        linear_attribution,
        linear_attribution_scalable,
    )

    rng = random.Random(42)
    base = datetime(2024, 1, 1)
    users = [1, 2, 3, None]
    channels = ["ad", "email", "social", None]
    touches = []
    for i in range(400):
        touches.append(
            (
                rng.choice(users),
                base + timedelta(minutes=rng.randrange(0, 20000)),
                rng.choice(channels),
            )
        )
    purchases = []
    for i in range(120):
        ts = base + timedelta(minutes=rng.randrange(0, 20000))
        purchases.append((rng.choice(users), i, ts, rng.uniform(1, 500)))
    # adversarial: touch EXACTLY at t - w (must be inside the frame);
    # two same-ts touches on different channels at the window start
    w_sec = 6 * 3600
    pts = base + timedelta(minutes=30000)
    edge = pts - timedelta(seconds=w_sec)
    purchases.append((7, 900, pts, 100.0))
    touches += [(7, edge, "zz"), (7, edge, "aa"), (7, pts, "mm")]
    # purchase with NULL ts; touch with NULL ts
    purchases.append((1, 901, None, 50.0))
    touches.append((1, None, "ad"))
    # user with touches in a far bucket only (empty probe bucket)
    purchases.append((8, 902, base + timedelta(days=40), 10.0))
    touches.append((8, base + timedelta(days=1), "ad"))

    pdf = spark.createDataFrame(
        purchases, "user_id long, pid long, ts timestamp, value double"
    )
    tdf = spark.createDataFrame(
        touches, "user_id long, ts timestamp, channel string"
    )
    kw = dict(
        user_col="user_id", purchase_id_col="pid", purchase_ts_col="ts",
        value_col="value", touch_ts_col="ts", channel_col="channel",
        window_seconds=w_sec,
    )
    exact = {
        r["channel"]: (r["n_conversions"], r["n_touches"], r["credit"])
        for r in linear_attribution(pdf, tdf, **kw).collect()
    }
    fast = {
        r["channel"]: (r["n_conversions"], r["n_touches"], r["credit"])
        for r in linear_attribution_scalable(pdf, tdf, **kw).collect()
    }
    assert fast == exact


def test_linear_attribution_scalable_numeric_channel_tie(spark):
    """Remainder tie-break must use NATIVE channel ordering (2 < 10),
    not string ordering ("10" < "2") — two same-ts touches at the
    window edge on numeric channels."""
    from datetime import datetime, timedelta

    from pytrousse_spark.operators.cohort import (
        linear_attribution,
        linear_attribution_scalable,
    )

    base = datetime(2024, 1, 1)
    pts = base + timedelta(hours=10)
    edge = pts - timedelta(seconds=3600)
    pdf = spark.createDataFrame(
        [(1, 1, pts, 100.000001)],
        "user_id long, pid long, ts timestamp, value double",
    )
    tdf = spark.createDataFrame(
        [(1, edge, 10), (1, edge, 2), (1, pts, None)],
        "user_id long, ts timestamp, channel long",
    )
    kw = dict(
        user_col="user_id", purchase_id_col="pid", purchase_ts_col="ts",
        value_col="value", touch_ts_col="ts", channel_col="channel",
        window_seconds=3600,
    )
    exact = {
        r["channel"]: (r["n_touches"], r["credit"])
        for r in linear_attribution(pdf, tdf, **kw).collect()
    }
    fast = {
        r["channel"]: (r["n_touches"], r["credit"])
        for r in linear_attribution_scalable(pdf, tdf, **kw).collect()
    }
    assert fast == exact
    # the remainder (100000001 % 3 = 2 micro-units) went to channel 2
    assert fast[2][1] > fast[10][1]


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, value double, ts timestamp"
    )


def test_cuped_laws(spark):
    """Y == X -> theta = 1 and var_cuped = 0; Y independent of X ->
    theta ~ 0 and var_reduction ~ 1; the pooled (weighted) adjusted
    mean equals the pooled raw mean EXACTLY in expectation terms
    (adjustment is a global-mean-centred shift)."""
    import datetime as dt

    from pytrousse_spark.operators.cohort import cuped_ab_test

    pre = dt.datetime(2024, 1, 5)
    post = dt.datetime(2024, 1, 20)
    split = "2024-01-16 00:00:00"
    # Y == X: every user spends the same amount in both periods
    rows = []
    for u in range(40):
        amt = float(10 + (u * 7) % 23)
        rows.append((u, "purchase", amt, pre))
        rows.append((u, "purchase", amt, post))
    out = {
        r["arm"]: r
        for r in cuped_ab_test(
            _mk_events(spark, rows), "user_id", "event_type",
            "purchase", "value", split,
        ).collect()
    }
    for arm in (0, 1):
        r = out[arm]
        assert abs(r["theta"] - 1.0) < 1e-6
        assert abs(r["var_cuped"]) < 1e-9
        assert abs(r["var_reduction"]) < 1e-9
        assert r["var_y"] > 0

    # X carries no information: pre-spend constant, post varies
    rows = []
    for u in range(40):
        rows.append((u, "purchase", 5.0, pre))
        rows.append((u, "purchase", float(1 + (u * 13) % 17), post))
    out = {
        r["arm"]: r
        for r in cuped_ab_test(
            _mk_events(spark, rows), "user_id", "event_type",
            "purchase", "value", split,
        ).collect()
    }
    for arm in (0, 1):
        # constant X -> var(X)=0 -> theta guarded to 0, no adjustment
        assert out[arm]["theta"] == 0.0
        assert out[arm]["mean_y_cuped"] == out[arm]["mean_y"]
        assert out[arm]["var_reduction"] == 1.0


def test_cuped_pooled_mean_preserved(spark):
    """sum_arm n*mean_y_cuped == sum_arm n*mean_y (the adjustment is
    centred on the GLOBAL covariate mean, so total mass is invariant) —
    within the 1e-6 rounding of the outputs."""
    import datetime as dt

    from pytrousse_spark.operators.cohort import cuped_ab_test

    pre = dt.datetime(2024, 1, 5)
    post = dt.datetime(2024, 1, 20)
    rows = []
    for u in range(60):
        rows.append((u, "purchase", float(1 + (u * 11) % 29), pre))
        rows.append((u, "purchase", float(2 + (u * 3) % 31), post))
    out = cuped_ab_test(
        _mk_events(spark, rows), "user_id", "event_type", "purchase",
        "value", "2024-01-16 00:00:00",
    ).collect()
    raw = sum(r["n"] * r["mean_y"] for r in out)
    adj = sum(r["n"] * r["mean_y_cuped"] for r in out)
    assert abs(raw - adj) < 1e-3
    # theta is the POOLED optimum: it need not shrink EVERY arm's
    # variance (sampling noise can inflate one arm), but the weighted
    # within-arm variance must not grow beyond the between-arm slack
    pooled_raw = sum(r["n"] * r["var_y"] for r in out)
    pooled_adj = sum(r["n"] * r["var_cuped"] for r in out)
    assert pooled_adj <= pooled_raw + 1e-3 * pooled_raw


def test_diff_in_diff_planted_effect(spark):
    """Plant a +delta post-period shift ONLY for arm-1 users (arms
    resolved through the same portable hash the operator uses) on top
    of a common trend -> did recovers delta exactly; no-effect data ->
    did = 0, not significant."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pytrousse_spark.functions.hashing import h60
    from pytrousse_spark.operators.cohort import diff_in_diff

    users = spark.range(80).select(
        F.col("id").alias("user_id"),
        (h60(F.concat(F.lit("ab|"), F.col("id").cast("string"))) % 2)
        .cast("int")
        .alias("arm"),
    )
    arms = {r["user_id"]: r["arm"] for r in users.collect()}
    pre = dt.datetime(2024, 1, 5)
    post = dt.datetime(2024, 1, 20)
    delta = 7.5
    trend = 3.0  # common post-period lift both arms share
    rows = []
    for u, a in arms.items():
        base = float(10 + (u * 7) % 13)
        rows.append((u, "purchase", base, pre))
        rows.append(
            (u, "purchase", base + trend + (delta if a == 1 else 0.0),
             post)
        )
    r = diff_in_diff(
        _mk_events(spark, rows), "user_id", "event_type", "purchase",
        "value", "2024-01-16 00:00:00",
    ).collect()[0]
    assert abs(r["did"] - delta) < 1e-6
    assert abs((r["post_c"] - r["pre_c"]) - trend) < 1e-6
    assert r["significant"] is True

    rows0 = []
    for u, a in arms.items():
        base = float(10 + (u * 7) % 13)
        rows0.append((u, "purchase", base, pre))
        rows0.append((u, "purchase", base + trend, post))
    r0 = diff_in_diff(
        _mk_events(spark, rows0), "user_id", "event_type", "purchase",
        "value", "2024-01-16 00:00:00",
    ).collect()[0]
    assert r0["did"] == 0.0
    assert r0["significant"] is False


def test_position_attribution_shares_and_conservation(spark):
    """U-shaped 40/20/40: hand-checked shares for k=1,2,4 touches;
    total credited mass equals total conversion value bit-for-bit
    (remainders pinned to first / earliest-middle)."""
    import datetime as dt

    from pytrousse_spark.operators.cohort import position_attribution

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ts(mins):
        return t0 + dt.timedelta(minutes=mins)

    # purchase of 10.000001 (odd micro-units) with 4 touches
    pdf = spark.createDataFrame(
        [(1, 100, ts(0), 10.000001), (2, 200, ts(0), 5.0),
         (3, 300, ts(0), 2.0), (4, 400, ts(0), 7.0)],
        "user_id long, pid long, ts timestamp, value double",
    )
    tdf = spark.createDataFrame(
        [
            # user 1: 4 touches -> 40/10/10/40 (+ mid remainder to ch 21)
            (1, ts(-40), 20), (1, ts(-30), 21), (1, ts(-20), 22),
            (1, ts(-10), 23),
            # user 2: 1 touch -> 100%
            (2, ts(-5), 30),
            # user 3: 2 touches -> 50/50
            (3, ts(-8), 40), (3, ts(-6), 41),
            # user 4: none -> NULL channel full credit
        ],
        "user_id long, ts timestamp, channel long",
    )
    out = {
        r["channel"]: r["credit"]
        for r in position_attribution(
            pdf, tdf,
            user_col="user_id", purchase_id_col="pid",
            purchase_ts_col="ts", value_col="value",
            touch_ts_col="ts", channel_col="channel",
            window_seconds=3600,
        ).collect()
    }
    vm = 10_000_001  # micro-units
    first = (vm * 4) // 10          # 4000000
    mid_pool = vm - 2 * first       # 2000001
    mid_each = mid_pool // 2        # 1000000, remainder 1 -> FIRST touch
    assert out[20] == (first + 1) / 1e6
    assert out[23] == first / 1e6
    assert out[21] == mid_each / 1e6
    assert out[22] == mid_each / 1e6
    assert out[30] == 5.0
    assert out[40] == 1.0 and out[41] == 1.0
    assert out[None] == 7.0
    assert abs(sum(out.values()) - (10.000001 + 5 + 2 + 7)) < 1e-9


def test_position_attribution_scalable_equals_pairwise(spark):
    """The first/last/count decomposition must reproduce the pairwise
    U-shaped operator bit-for-bit on the same adversarial battery as
    the q177 test: window-edge ties, same-ts first/last channel ties,
    NULL user/ts/channel, empty windows, far-bucket touches."""
    import random
    from datetime import datetime, timedelta

    from pytrousse_spark.operators.cohort import (
        position_attribution,
        position_attribution_scalable,
    )

    rng = random.Random(43)
    base = datetime(2024, 1, 1)
    users = [1, 2, 3, None]
    channels = ["ad", "email", "social", None]
    touches = []
    for i in range(400):
        touches.append(
            (
                rng.choice(users),
                base + timedelta(minutes=rng.randrange(0, 20000)),
                rng.choice(channels),
            )
        )
    purchases = []
    for i in range(120):
        ts = base + timedelta(minutes=rng.randrange(0, 20000))
        purchases.append((rng.choice(users), i, ts, rng.uniform(1, 500)))
    w_sec = 6 * 3600
    pts = base + timedelta(minutes=30000)
    edge = pts - timedelta(seconds=w_sec)
    # first-position tie at the exact window edge AND last-position tie
    # at the purchase instant (NULL channel competes for LAST)
    purchases.append((7, 900, pts, 100.0))
    touches += [
        (7, edge, "zz"), (7, edge, "aa"),
        (7, pts, "mm"), (7, pts, None),
    ]
    purchases.append((1, 901, None, 50.0))
    touches.append((1, None, "ad"))
    purchases.append((8, 902, base + timedelta(days=40), 10.0))
    touches.append((8, base + timedelta(days=1), "ad"))
    # exactly-3-touch user: the middle remainder lands on the FIRST
    purchases.append((9, 903, pts, 0.000007))
    touches += [
        (9, pts - timedelta(hours=3), "x1"),
        (9, pts - timedelta(hours=2), "x2"),
        (9, pts - timedelta(hours=1), "x3"),
    ]

    pdf = spark.createDataFrame(
        purchases, "user_id long, pid long, ts timestamp, value double"
    )
    tdf = spark.createDataFrame(
        touches, "user_id long, ts timestamp, channel string"
    )
    kw = dict(
        user_col="user_id", purchase_id_col="pid", purchase_ts_col="ts",
        value_col="value", touch_ts_col="ts", channel_col="channel",
        window_seconds=w_sec,
    )
    exact = {
        r["channel"]: (r["n_conversions"], r["n_touches"], r["credit"])
        for r in position_attribution(pdf, tdf, **kw).collect()
    }
    fast = {
        r["channel"]: (r["n_conversions"], r["n_touches"], r["credit"])
        for r in position_attribution_scalable(pdf, tdf, **kw).collect()
    }
    assert fast == exact


def test_rfm_segments_laws(spark):
    """Total users partitions across cells; quintiles land 0-4; a
    planted whale (many purchases, huge spend, most recent) occupies
    the (0, 4, 4) corner — most recent, top frequency, top monetary."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import rfm_segments

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(50):
        # older, lighter users: 1-3 purchases days ago, small spend
        for k in range(1 + u % 3):
            rows.append(
                (u, "purchase", 5.0 + u % 7,
                 t0 + dt.timedelta(days=u % 10, hours=k))
            )
    # the whale: 30 purchases, big spend, at the very end
    for k in range(30):
        rows.append(
            (999, "purchase", 500.0, t0 + dt.timedelta(days=29, hours=k))
        )
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, ts timestamp"
    )
    out = rfm_segments(df, "user_id", "event_type", "purchase", "value")
    cells = out.collect()
    assert sum(r["n_users"] for r in cells) == 51
    for r in cells:
        for c in ("r_q", "f_q", "m_q"):
            assert 0 <= r[c] <= 4
    # quintiles are RANK-based (~20% of users each), so the corner can
    # include rank-adjacent regulars — but the whale must be in it, and
    # the corner must carry the maximum average spend
    top = max(cells, key=lambda r: r["avg_monetary"])
    assert (top["r_q"], top["f_q"], top["m_q"]) == (0, 4, 4)
    assert top["avg_monetary"] >= 500.0 * 30 / top["n_users"]


def test_ab_power_mde_formula(spark):
    """MDE matches the hand formula on the realized counts and shrinks
    with sample size (sqrt-n law within rounding)."""
    import datetime as dt
    import math

    from pytrousse_spark.operators.cohort import ab_power_mde

    t0 = dt.datetime(2024, 1, 1)

    def mk(n):
        rows = []
        for u in range(n):
            rows.append((u, "view", t0))
            if u % 4 == 0:
                rows.append((u, "purchase", t0 + dt.timedelta(hours=1)))
        return spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp"
        )

    small = ab_power_mde(
        mk(100), "user_id", "event_type", "view", "purchase"
    ).collect()[0]
    big = ab_power_mde(
        mk(800), "user_id", "event_type", "view", "purchase"
    ).collect()[0]
    for r in (small, big):
        p = (0.25 * (r["n_a"] + r["n_b"])) / (r["n_a"] + r["n_b"])
        hand = (1.959964 + 0.841621) * math.sqrt(
            p * (1 - p) * (1 / r["n_a"] + 1 / r["n_b"])
        )
        assert abs(r["mde_abs"] - hand) < 1e-5
    assert big["mde_abs"] < small["mde_abs"] / 2  # ~1/sqrt(8)


def test_segment_ab_bh_rejects_planted_segments(spark):
    """Two segments carry a massive planted effect, two carry none:
    BH at q=0.05 rejects exactly the planted pair; p-values agree with
    Python's exact normal tail within the A&S 1.5e-7 bound."""
    import datetime as dt
    import math

    from pyspark.sql import functions as F

    from pytrousse_spark.functions.hashing import h60
    from pytrousse_spark.operators.cohort import segment_ab_bh

    t0 = dt.datetime(2024, 1, 1)
    base = spark.range(0, 800).select(F.col("id").alias("u"))
    arm = (h60(F.concat(F.lit("ab|"), F.col("u").cast("string"))) % 2)
    users = base.select("u", arm.alias("arm")).collect()
    rows = []
    for r in users:
        u, a = r["u"], r["arm"]
        seg = u % 4
        rows.append((u, "view", t0))
        if seg in (1, 3):  # planted: arm 0 converts 85%, arm 1 15%
            conv = (a == 0 and u % 20 != 0) or (a == 1 and u % 7 == 0)
        else:  # null effect: both arms ~50%
            conv = u % 2 == 0
        if conv:
            rows.append((u, "purchase", t0 + dt.timedelta(hours=1)))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {
        r["segment"]: r
        for r in segment_ab_bh(
            df, "user_id", "event_type", "view", "purchase", n_segments=4
        ).collect()
    }
    assert out[1]["reject"] is True and out[3]["reject"] is True
    assert out[0]["reject"] is False and out[2]["reject"] is False
    # A&S polynomial vs exact tail
    for seg, r in out.items():
        if r["z"] is None:
            continue
        exact = min(1.0, 2 * 0.5 * math.erfc(abs(r["z"]) / math.sqrt(2)))
        assert abs(r["p_value"] - exact) < 5e-7 + 1e-6


def test_ratio_metric_delta_laws(spark):
    """Constant per-user ratio -> zero delta-method variance and a
    NULL z (no detectable difference); a planted arm-level ratio shift
    is detected with |z| large; ratios match hand sums."""
    import datetime as dt

    from pyspark.sql import functions as F

    from pytrousse_spark.functions.hashing import h60
    from pytrousse_spark.operators.cohort import ratio_metric_delta

    t0 = dt.datetime(2024, 1, 1)
    # every user: 2 views, purchases 10.0 -> ratio 5.0/view in both arms
    rows = []
    for u in range(100):
        rows += [(u, "view", 0.0, t0), (u, "view", 0.0, t0)]
        rows.append((u, "purchase", 10.0, t0))
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, ts timestamp"
    )
    r = ratio_metric_delta(
        df, "user_id", "event_type", "purchase", "value", "view"
    ).collect()[0]
    assert r["ratio_a"] == 5.0 and r["ratio_b"] == 5.0
    assert r["se_a"] == 0.0 and r["se_b"] == 0.0
    assert r["z"] is None and r["significant"] is None

    # planted: arm 0 spends 20 per purchase, arm 1 spends 5
    users = spark.range(400).select(
        F.col("id").alias("u"),
        (h60(F.concat(F.lit("ab|"), F.col("id").cast("string"))) % 2)
        .cast("int")
        .alias("arm"),
    ).collect()
    rows2 = []
    for rr in users:
        u, a = rr["u"], rr["arm"]
        nviews = 1 + u % 3
        for k in range(nviews):
            rows2.append((u, "view", 0.0, t0))
        spend = 20.0 if a == 0 else 5.0
        if u % 2 == 0:
            rows2.append((u, "purchase", spend + u % 5, t0))
    df2 = spark.createDataFrame(
        rows2, "user_id long, event_type string, value double, ts timestamp"
    )
    r2 = ratio_metric_delta(
        df2, "user_id", "event_type", "purchase", "value", "view"
    ).collect()[0]
    assert r2["ratio_a"] > r2["ratio_b"]
    assert r2["significant"] is True and r2["z"] > 3


def test_ipw_corrects_planted_confounding(spark):
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import ipw_ate

    # confounder x drives BOTH treatment assignment and the outcome;
    # true treatment effect is +10. Naive diff is inflated by the
    # confounder; IPW must land substantially closer to the truth.
    rows = []
    for i in range(4000):
        x = (i % 100) / 100.0                # confounder in [0, 1)
        t = 1 if ((i * 7919) % 100) < 100 * (0.2 + 0.6 * x) else 0
        y = 100.0 + 50.0 * x + 10.0 * t      # true effect 10
        rows.append((t, y, x))
    df = spark.createDataFrame(rows, ["t", "y", "x"])
    r = ipw_ate(
        df, F.col("t"), "y", F.col("x"), F.col("x") * 0.5,
        iters=30, lr=4.0,
    ).collect()[0]
    assert r["n"] == 4000
    # confounding inflates the naive difference well above 10
    assert r["naive_diff"] > 14
    # a converged propensity model pulls >= 75% of the bias out
    # (measured: naive 19.64 -> ate 10.6)
    assert abs(r["ate"] - 10.0) < 0.25 * (r["naive_diff"] - 10.0)
    assert r["ate"] < r["naive_diff"]


def test_ipw_equals_naive_when_randomized(spark):
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import ipw_ate

    # treatment independent of x -> propensity ~ constant -> the
    # Hajek IPW estimate collapses to (almost) the naive difference
    rows = []
    for i in range(3000):
        x = (i % 50) / 50.0
        t = 1 if (i * 31) % 2 == 0 else 0
        y = 40.0 + 20.0 * x + 5.0 * t
        rows.append((t, y, x))
    df = spark.createDataFrame(rows, ["t", "y", "x"])
    r = ipw_ate(
        df, F.col("t"), "y", F.col("x"), F.col("x") * 0.5, iters=8
    ).collect()[0]
    assert abs(r["ate"] - r["naive_diff"]) < 0.5
    assert abs(r["ate"] - 5.0) < 0.5


def test_wilson_interval_laws(spark):
    import datetime as dt
    import math

    from pytrousse_spark.operators.cohort import daily_rate_wilson

    rows = []
    base = dt.datetime(2024, 6, 1)
    # day 1: 4 exposed, 4 converted (rate 1.0 — Wald CI would be
    # zero-width; Wilson must pull below 1)
    for u in range(4):
        rows.append((u, base, "view"))
        rows.append((u, base + dt.timedelta(minutes=5), "purchase"))
    # day 2: 100 exposed, 25 converted
    d2 = base + dt.timedelta(days=1)
    for u in range(100):
        rows.append((u, d2, "view"))
        if u < 25:
            rows.append((u, d2 + dt.timedelta(minutes=1), "purchase"))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    df = df.withColumn("value", df.user_id * 0.0)
    got = {
        r["day"].day: r
        for r in daily_rate_wilson(
            df, "user_id", "event_type", "view", "purchase"
        ).collect()
    }
    d1 = got[1]
    assert d1["rate"] == 1.0
    assert d1["wilson_hi"] == 1.0 and d1["wilson_lo"] < 0.75
    d2r = got[2]
    assert d2r["rate"] == 0.25
    assert d2r["wilson_lo"] < 0.25 < d2r["wilson_hi"]
    # textbook Wilson check at z = 1.959964
    z = 1.959964
    p, n = 0.25, 100.0
    den = 1 + z * z / n
    c = (p + z * z / (2 * n)) / den
    h = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / den
    assert abs(d2r["wilson_lo"] - (c - h)) < 1e-5
    assert abs(d2r["wilson_hi"] - (c + h)) < 1e-5
    # interval always contains the point rate and narrows with n
    assert (d2r["wilson_hi"] - d2r["wilson_lo"]) < (
        d1["wilson_hi"] - d1["wilson_lo"]
    )


def test_cohort_ltv_laws(spark):
    import datetime as dt

    from pytrousse_spark.operators.cohort import cohort_ltv_curve

    rows = []
    w0 = dt.datetime(2024, 6, 3)  # a Monday
    # cohort A (week 0): 2 users; u0 buys 10 in week 0 and 20 in
    # week 2 (week 1 silent -> dense row with 0), u1 never buys
    rows.append((0, w0, "signup", 0.0))
    rows.append((1, w0, "signup", 0.0))
    rows.append((0, w0 + dt.timedelta(days=1), "purchase", 10.0))
    rows.append((0, w0 + dt.timedelta(days=15), "purchase", 20.0))
    df = spark.createDataFrame(
        rows, ["user_id", "ts", "event_type", "value"]
    )
    got = sorted(
        cohort_ltv_curve(
            df, "user_id", "event_type", "purchase", "value"
        ).collect(),
        key=lambda r: r["period_offset"],
    )
    assert [r["period_offset"] for r in got] == [0, 1, 2]
    assert got[0]["cohort_size"] == 2
    assert got[0]["period_revenue"] == 10.0
    assert got[1]["period_revenue"] == 0.0  # the dense-holes rule
    assert got[2]["period_revenue"] == 20.0
    # cumulative per-user: 5, 5, 15
    assert [r["cum_ltv"] for r in got] == [5.0, 5.0, 15.0]
    # cum_ltv is nondecreasing (revenue is nonnegative)
    seq = [r["cum_ltv"] for r in got]
    assert all(b >= a for a, b in zip(seq, seq[1:]))


def test_activity_streaks_handcrafted(spark):
    """Gaps-and-islands law on planted runs: user 1 has runs of 3 and 1
    (longest 3), user 2 has runs of 2 and 2 (longest 2), user 3 one day
    (longest 1); duplicate events within a day collapse."""
    from datetime import datetime as ts

    from pytrousse_spark.operators.cohort import activity_streaks

    df = spark.createDataFrame(
        [
            (1, ts(2024, 1, 1)),
            (1, ts(2024, 1, 1, 23, 59)),  # dup day
            (1, ts(2024, 1, 2)),
            (1, ts(2024, 1, 3)),
            (1, ts(2024, 1, 5)),
            (2, ts(2024, 1, 1)),
            (2, ts(2024, 1, 2)),
            (2, ts(2024, 1, 10)),
            (2, ts(2024, 1, 11)),
            (3, ts(2024, 2, 1)),
        ],
        ["user_id", "ts"],
    )
    out = {
        r["longest_streak"]: r["n_users"]
        for r in activity_streaks(df, "user_id", "ts").collect()
    }
    assert out == {3: 1, 2: 1, 1: 1}


def test_activity_streaks_conservation(spark):
    """Histogram mass equals the number of distinct users."""
    ev = read_parquet_df(spark, f"{SF_DIR}/events.parquet")
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import activity_streaks

    hist = activity_streaks(ev, "user_id", "ts")
    n_users = ev.select("user_id").distinct().count()
    assert hist.agg(F.sum("n_users")).first()[0] == n_users
    # streak lengths are bounded by the calendar span
    span = ev.agg(
        (F.datediff(F.max("ts"), F.min("ts")) + 1).alias("d")
    ).first()["d"]
    assert hist.agg(F.max("longest_streak")).first()[0] <= span


def test_markov_attribution_single_channel_chain(spark):
    """One channel, every path converts through it: removing the only
    channel kills ALL conversion (v_removed = 0, removal = v_full),
    and v_full equals the exact conversion rate in nano-units."""
    from datetime import datetime as ts

    from pytrousse_spark.operators.cohort import markov_attribution

    rows = [
        # 3 users: view -> purchase; 1 user: view only (drops)
        (0, 1, "view", ts(2024, 1, 1)),
        (1, 1, "purchase", ts(2024, 1, 2)),
        (2, 2, "view", ts(2024, 1, 1)),
        (3, 2, "purchase", ts(2024, 1, 2)),
        (4, 3, "view", ts(2024, 1, 1)),
        (5, 3, "purchase", ts(2024, 1, 2)),
        (6, 4, "view", ts(2024, 1, 1)),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    out = markov_attribution(df, "user_id", "event_type", "ts", "event_id").collect()
    assert len(out) == 1 and out[0]["channel"] == "view"
    # START -> view always; view -> CONV 3/4 -> v_full = 750000000 exact
    assert out[0]["v_full_nano"] == 750_000_000
    assert out[0]["v_removed_nano"] == 0
    assert out[0]["removal_nano"] == 750_000_000


def test_markov_attribution_bypass_channel(spark):
    """Two channels where one can be bypassed: knocking out the
    bypassable channel hurts less than knocking out the mandatory
    one; removal effects are positive and bounded by v_full."""
    from datetime import datetime as ts

    from pytrousse_spark.operators.cohort import markov_attribution

    rows = []
    eid = 0

    def path(u, *types):
        nonlocal eid
        for i, t in enumerate(types):
            rows.append((eid, u, t, ts(2024, 1, 1 + i)))
            eid += 1

    # 'ad' -> 'email' -> purchase x2 ; 'ad' -> purchase x1 ;
    # 'email' -> drop x1  (email converts only after ad)
    path(1, "ad", "email", "purchase")
    path(2, "ad", "email", "purchase")
    path(3, "ad", "purchase")
    path(4, "email")
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    out = {
        r["channel"]: r
        for r in markov_attribution(
            df, "user_id", "event_type", "ts", "event_id"
        ).collect()
    }
    assert set(out) == {"ad", "email"}
    ad, em = out["ad"], out["email"]
    assert ad["v_full_nano"] == em["v_full_nano"] > 0
    assert 0 < em["removal_nano"] < ad["removal_nano"] <= ad["v_full_nano"]
    # knocking out 'ad' removes all ad-originated conversions
    assert ad["v_removed_nano"] < em["v_removed_nano"]


def test_shapley_handcrafted_two_channels(spark):
    """Hand-solved 2-channel game: v(empty)=0, v(a)=1, v(b)=1,
    v(ab)=3 -> phi_a = phi_b = 1.5 users; phi_num = K!*phi = 3."""
    from datetime import datetime as ts

    from pytrousse_spark.operators.cohort import shapley_attribution

    rows = [
        (0, 1, "a", ts(2024, 1, 1)), (1, 1, "purchase", ts(2024, 1, 2)),
        (2, 2, "b", ts(2024, 1, 1)), (3, 2, "purchase", ts(2024, 1, 2)),
        (4, 3, "a", ts(2024, 1, 1)), (5, 3, "b", ts(2024, 1, 2)),
        (6, 3, "purchase", ts(2024, 1, 3)),
        (7, 4, "a", ts(2024, 1, 1)),  # non-converter
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    out = {
        r["channel"]: r
        for r in shapley_attribution(
            df, "user_id", "event_type", "ts", "event_id", "purchase",
            ["a", "b"],
        ).collect()
    }
    assert out["a"]["phi_num"] == 3 and out["b"]["phi_num"] == 3
    assert out["a"]["n_users"] == 4 and out["a"]["n_converted"] == 3
    # micro share: 3 * 1e6 // (2! * 4) = 375000
    assert out["a"]["shapley_micro"] == 375_000


def test_shapley_conservation_on_testdata(spark):
    """sum_i phi_num_i = K! * (v(all) - v(empty)): total credit equals
    the converters reachable through channels, scaled by K!."""
    import math

    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import shapley_attribution

    ev = read_parquet_df(spark, f"{SF_DIR}/events.parquet")
    chans = ["click", "error", "signup", "view"]
    out = shapley_attribution(
        ev, "user_id", "event_type", "ts", "event_id", "purchase", chans
    ).collect()
    assert len(out) == len(chans)
    total_phi = sum(r["phi_num"] for r in out)
    # v(all) = all converters; v(empty) = converters who touched no
    # channel before converting (first event IS the purchase)
    w = __import__("pyspark").sql.Window
    first_purch = (
        ev.withColumn(
            "__rn",
            F.row_number().over(
                w.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .withColumn(
            "__crn",
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("__rn"))
            ).over(w.partitionBy("user_id")),
        )
    )
    v_all = first_purch.where(F.col("__crn").isNotNull()).select(
        "user_id"
    ).distinct().count()
    v_empty = first_purch.where(F.col("__crn") == 1).select(
        "user_id"
    ).distinct().count()
    assert total_phi == math.factorial(len(chans)) * (v_all - v_empty)
    assert all(r["phi_num"] >= 0 for r in out)


def test_aipw_corrects_planted_confounding(spark):
    """q226's planted-confounding battery on the doubly-robust
    estimator: with a CORRECT outcome model (linear in x), AIPW should
    land at least as close to the truth (+10) as IPW alone; here the
    outcome model is exactly linear, so AIPW nails it."""
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import aipw_ate, ipw_ate

    rows = []
    for i in range(4000):
        x = (i % 100) / 100.0
        t = 1 if ((i * 7919) % 100) < 100 * (0.2 + 0.6 * x) else 0
        y = 100.0 + 50.0 * x + 10.0 * t      # true effect 10
        rows.append((t, y, x))
    df = spark.createDataFrame(rows, ["t", "y", "x"])
    # NOTE: x2 must not be collinear with x1 (the closed-form outcome
    # model is singular then and the estimate is NULL by design) — use
    # x^2 as the second feature; the linear outcome model stays
    # correctly specified (b2 = 0)
    r = aipw_ate(
        df, F.col("t"), "y", F.col("x"), F.col("x") * F.col("x"),
        iters=30, lr=4.0,
    ).collect()[0]
    assert r["n"] == 4000
    assert r["naive_diff"] > 14
    # exact outcome model -> AIPW within 0.5 of the truth
    assert abs(r["ate_aipw"] - 10.0) < 0.5
    ipw = ipw_ate(
        df, F.col("t"), "y", F.col("x"), F.col("x") * F.col("x"),
        iters=30, lr=4.0,
    ).collect()[0]
    assert abs(r["ate_aipw"] - 10.0) <= abs(ipw["ate"] - 10.0) + 1e-6


def test_aipw_equals_naive_when_randomized(spark):
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import aipw_ate

    rows = []
    for i in range(3000):
        x = (i % 50) / 50.0
        t = 1 if (i * 31) % 2 == 0 else 0
        y = 40.0 + 20.0 * x + 5.0 * t
        rows.append((t, y, x))
    df = spark.createDataFrame(rows, ["t", "y", "x"])
    r = aipw_ate(
        df, F.col("t"), "y", F.col("x"), F.col("x") * F.col("x"), iters=8
    ).collect()[0]
    assert abs(r["ate_aipw"] - 5.0) < 0.5
    assert abs(r["ate_aipw"] - r["naive_diff"]) < 0.5


def test_rdd_recovers_planted_jump_and_zero_on_continuity(spark):
    """Laws: (1) a noise-free planted design y = 10 + 0.02*(r-c) +
    50*[r >= c] recovers effect = EXACTLY 5000 cents and both slopes
    = 2 cents per running-unit... slope is per running-CENT: 0.02
    dollars/dollar = 0.02 cents/cent; (2) a continuous y (no jump)
    gives effect 0; (3) points outside the bandwidth are ignored
    (a huge far-away outlier changes nothing)."""
    from pytrousse_spark.operators.cohort import regression_discontinuity

    c, h = 100.0, 50.0

    def build(jump, extra=None):
        rows = []
        for k in range(200):
            r = 51.0 + k * 0.5            # 51..150.5
            y = 10.0 + 0.02 * (r - c) + (jump if r >= c else 0.0)
            rows.append((k, r, y))
        if extra:
            rows += extra
        return spark.createDataFrame(rows, ["uid", "run", "out"])

    got = regression_discontinuity(
        build(50.0), "run", "out", c, h
    ).collect()[0]
    assert got["effect"] == 5000.0          # cents
    assert abs(got["slope_left"] - 0.02) < 1e-6
    assert abs(got["slope_right"] - 0.02) < 1e-6
    assert got["intercept_left"] == 1000.0
    assert got["intercept_right"] == 6000.0

    flat = regression_discontinuity(
        build(0.0), "run", "out", c, h
    ).collect()[0]
    assert flat["effect"] == 0.0

    far = regression_discontinuity(
        build(50.0, extra=[(999, 400.0, 1e9), (998, 1.0, -1e9)]),
        "run", "out", c, h,
    ).collect()[0]
    assert far["effect"] == 5000.0          # bandwidth filter holds


def test_qte_localizes_where_the_effect_lives(spark):
    """Laws: (1) location shift — treated = control + 500 cents gives
    QTE = 500 at EVERY decile; (2) planted heterogeneity — shifting
    only the top half of treated outcomes gives QTE 0 at low deciles
    and 1000 at the 7th-9th; (3) type-1 quantiles are exact integer
    selections (no interpolation artifacts)."""
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import quantile_treatment_effects

    ctrl = [(0, float(10 + i)) for i in range(100)]     # 10..109
    shift = [(1, float(10 + i + 5)) for i in range(100)]
    df = spark.createDataFrame(ctrl + shift, ["t", "y"])
    out = quantile_treatment_effects(
        df, F.col("t"), "y"
    ).collect()
    assert len(out) == 9
    assert all(r["qte"] == 500 for r in out)
    assert out[0]["n_treat"] == 100 and out[0]["n_ctrl"] == 100

    het = [(1, float(10 + i + (10 if i >= 50 else 0))) for i in range(100)]
    df2 = spark.createDataFrame(ctrl + het, ["t", "y"])
    got = {
        r["decile"]: r["qte"]
        for r in quantile_treatment_effects(df2, F.col("t"), "y").collect()
    }
    assert got[1] == 0 and got[2] == 0 and got[3] == 0
    assert got[7] == 1000 and got[8] == 1000 and got[9] == 1000


def test_sequential_ab_obf_boundary_behavior(spark):
    """Laws: (1) a strong planted uplift (treated users convert,
    controls never) crosses at the FINAL look and the boundary is
    monotone DECREASING (wide early); (2) identical arms never cross;
    (3) per-look counts are exact: users enter when their first event
    is inside the cut."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from pytrousse_spark.operators.cohort import sequential_ab_looks

    t0 = datetime(2024, 1, 1)
    rows, eid = [], 0
    # 200 users spread evenly over 100 days; odd users (treated)
    # convert on their second event, even users never
    for u in range(200):
        day = (u * 100) // 200
        rows.append((eid, t0 + timedelta(days=day), u, "view")); eid += 1
        rows.append(
            (eid, t0 + timedelta(days=day, hours=2), u,
             "purchase" if u % 2 == 1 else "view")
        ); eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    )
    out = sequential_ab_looks(
        df, "user_id", "ts",
        (F.col("event_type") == "purchase").cast("int"),
    ).collect()
    assert [r["look"] for r in out] == [1, 2, 3, 4, 5]
    bs = [r["boundary"] for r in out]
    assert bs == sorted(bs, reverse=True)        # wide early
    assert out[-1]["crossed"] == 1               # full data crosses
    assert out[-1]["conv_ctrl"] == 0
    assert out[-1]["n_treat"] == 100 and out[-1]["n_ctrl"] == 100

    null_rows = [
        (i, t0 + timedelta(hours=i), i % 50, "view") for i in range(500)
    ]
    null_df = spark.createDataFrame(
        null_rows, ["event_id", "ts", "user_id", "event_type"]
    )
    null_out = sequential_ab_looks(
        null_df, "user_id", "ts",
        (F.col("event_type") == "purchase").cast("int"),
    ).collect()
    assert all(r["crossed"] is None or r["crossed"] == 0 for r in null_out)


def test_theil_decomposition_identity_and_limits(spark):
    """Laws: (1) perfect equality -> theil 0 (all components 0);
    (2) the decomposition identity theil = between + within holds to
    round-6 tolerance on a heterogeneous table; (3) equal group MEANS
    with unequal insides -> between 0, theil = within; (4) all
    inequality across groups (constant inside) -> within 0; (5)
    non-positive rows are excluded and counted."""
    from pytrousse_spark.operators.cohort import theil_index

    eq = spark.createDataFrame(
        [(g, 50.0) for g in ("a", "b") for _ in range(10)],
        ["g", "v"],
    )
    r = theil_index(eq, "g", "v").collect()[0]
    assert r["theil"] == 0.0
    assert r["theil_between"] == 0.0 and r["theil_within"] == 0.0

    het = spark.createDataFrame(
        [("a", 10.0), ("a", 90.0), ("b", 20.0), ("b", 20.0),
         ("b", 200.0), ("c", 5.0), ("c", -3.0), ("c", 0.0)],
        ["g", "v"],
    )
    h = theil_index(het, "g", "v").collect()[0]
    assert h["n_excluded"] == 2
    assert abs(h["theil"] - (h["theil_between"] + h["theil_within"])) < 3e-6
    assert h["theil"] > 0

    same_means = spark.createDataFrame(
        [("a", 50.0), ("a", 150.0), ("b", 100.0), ("b", 100.0)],
        ["g", "v"],
    )
    sm = theil_index(same_means, "g", "v").collect()[0]
    assert sm["theil_between"] == 0.0
    assert abs(sm["theil"] - sm["theil_within"]) < 2e-6

    across = spark.createDataFrame(
        [("a", 10.0)] * 5 + [("b", 1000.0)] * 5, ["g", "v"]
    )
    ac = theil_index(across, "g", "v").collect()[0]
    assert ac["theil_within"] == 0.0
    assert abs(ac["theil"] - ac["theil_between"]) < 2e-6


def test_attribution_strategy_router(spark, monkeypatch):
    """r7 VERDICT item 2: linear/position attribution default to
    strategy="auto", which probes the max per-user pair mass
    (touches_u * purchases_u) and routes to the scalable twin above the
    bound. Routing rule pinned on a benign and a zipfian frame; the
    routed results stay bit-identical to the pairwise form."""
    from pytrousse_spark.operators import cohort
    from pytrousse_spark.operators.cohort import (
        _route_attribution,
        linear_attribution,
        position_attribution,
    )

    def frame(hot_touches):
        ts = "2024-01-01 00:0{}:00"
        prows = [(u, f"p{u}", ts.format(5), 10.0) for u in range(4)]
        trows = [(u, ts.format(1), f"ch{u % 2}") for u in range(4)]
        trows += [(0, ts.format(2), "ch1")] * hot_touches
        p = spark.createDataFrame(
            prows, "u int, pid string, ts string, v double"
        ).withColumn("ts", __import__("pyspark").sql.functions.col("ts").cast("timestamp"))
        t = spark.createDataFrame(
            trows, "u int, ts string, ch string"
        ).withColumn("ts", __import__("pyspark").sql.functions.col("ts").cast("timestamp"))
        return p, t

    p, t = frame(hot_touches=0)
    assert _route_attribution(p, t, "u", "auto", 4_000_000) == "exact"
    assert _route_attribution(p, t, "u", "auto", 0) == "scalable"
    assert _route_attribution(p, t, "u", "scalable", 0) == "scalable"
    import pytest as _pt
    with _pt.raises(ValueError):
        _route_attribution(p, t, "u", "nope", 0)

    # zipfian: one user owns nearly all touches -> pair mass exceeds a
    # small bound and auto picks the scalable twin
    p, t = frame(hot_touches=40)
    assert _route_attribution(p, t, "u", "auto", 30) == "scalable"

    kw = dict(
        user_col="u", purchase_id_col="pid", purchase_ts_col="ts",
        value_col="v", touch_ts_col="ts", channel_col="ch",
    )
    monkeypatch.setattr(cohort, "_AUTO_MAX_PAIR_MASS", 30)
    for fn in (linear_attribution, position_attribution):
        exact = {
            (r["channel"],): (r["n_conversions"], r["n_touches"], r["credit"])
            for r in fn(p, t, strategy="exact", **kw).collect()
        }
        routed = {
            (r["channel"],): (r["n_conversions"], r["n_touches"], r["credit"])
            for r in fn(p, t, strategy="auto", **kw).collect()
        }
        assert exact == routed and exact


def test_propensity_matching_laws(spark):
    """Laws: (1) treatment independent of covariates -> one score
    level, ATT == naive_diff exactly; (2) confounded cells -> naive is
    biased but matching recovers the planted within-cell effect (same-x
    units share the same quantized score, so every treated matches its
    own cell's controls); (3) caliper 0 -> only exact-score matches
    count, a cell with no controls goes unmatched."""
    from pytrousse_spark.operators.cohort import propensity_matching

    def run(rows, **kw):
        df = spark.createDataFrame(
            rows, "t int, y double, x1 double, x2 double"
        )
        return propensity_matching(
            df,
            __import__("pyspark").sql.functions.col("t"),
            "y",
            __import__("pyspark").sql.functions.col("x1"),
            __import__("pyspark").sql.functions.col("x2"),
            **kw,
        ).collect()[0]

    # (1) identical covariates everywhere
    rows = [(1, 110.0, 0.5, 0.5)] * 10 + [(0, 100.0, 0.5, 0.5)] * 20
    r = run(rows)
    assert r["n_matched"] == r["n_treat"] == 10
    assert r["att"] == r["naive_diff"] == 10.0

    # (2) confounding: cell B is richer AND more treated; effect = +10
    # in both cells
    rows = (
        [(1, 110.0, 0.0, 0.0)] * 2 + [(0, 100.0, 0.0, 0.0)] * 18
        + [(1, 510.0, 1.0, 1.0)] * 18 + [(0, 500.0, 1.0, 1.0)] * 2
    )
    r = run(rows)
    assert r["n_matched"] == r["n_treat"] == 20
    assert abs(r["att"] - 10.0) < 1e-6
    assert r["naive_diff"] > 100.0  # the bias matching removes

    # (3) caliper 0: cell B has NO controls -> its treated unmatched
    rows = (
        [(1, 110.0, 0.0, 0.0)] * 5 + [(0, 100.0, 0.0, 0.0)] * 5
        + [(1, 510.0, 1.0, 1.0)] * 5
    )
    r = run(rows, caliper=0.0)
    assert r["n_treat"] == 10 and r["n_matched"] == 5
    assert abs(r["att"] - 10.0) < 1e-6


def test_tost_equivalence_laws(spark):
    """Hash arms of the same population ARE equivalent at a margin well
    above the noise floor and are NOT at a tiny margin; t statistics
    are monotone in delta; Spark == DuckDB twin exactly."""
    import duckdb

    from pytrousse_spark import read_parquet_df
    from pytrousse_spark.operators.cohort import (
        tost_equivalence,
        tost_equivalence_sql,
    )
    from tests.conftest import SF_DIR

    ev = read_parquet_df(spark, f"{SF_DIR}/events.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/events.parquet')"
    )
    # sf0.001 has only ~15 users, so the noise floor is wide: the
    # clearly-equivalent margin is ~2000 here (vs ~400 at sf0.01)
    wide = tost_equivalence(ev, "user_id", "value", delta=2000.0).collect()[0]
    w = con.execute(
        tost_equivalence_sql("events", "user_id", "value", delta=2000.0)
    ).fetchall()[0]
    assert tuple(wide) == tuple(w)
    assert wide["equivalent"] is True
    narrow = tost_equivalence(ev, "user_id", "value", delta=1.0).collect()[0]
    assert narrow["equivalent"] is False
    assert narrow["t_lower"] < wide["t_lower"]
    assert narrow["t_upper"] < wide["t_upper"]
    # diff and se do not depend on delta
    assert (narrow["diff"], narrow["se"]) == (wide["diff"], wide["se"])


def test_windowed_first_last_matches_brute_force(spark):
    """The fused first+last as-of against a plain-Python brute force on
    an adversarial battery: bucket-boundary straddlers, same-ts payload
    ties (NULL competing), builds exactly at both frame edges, an empty
    window and NULL keys (a real key: NULL-key probes read NULL-key
    builds). FIRST = min (ts, channel) with NULL channels last, LAST =
    max (ts, channel) with NULL channels first, over the same-key builds
    in [t - w, t]."""
    import random

    from pytrousse_spark.operators.cohort import _windowed_first_last_build

    rng = random.Random(17)
    base = 1_709_251_200_000_000  # 2024-03-01 in unix micros
    minute = 60_000_000
    users = [1, 2, 3, None]
    chans = ["a", "b", "zz", None]
    builds = [
        (
            rng.choice(users),
            base + minute * rng.randrange(0, 30000),
            rng.choice(chans),
        )
        for _ in range(500)
    ]
    probes = [
        (rng.choice(users), i, base + minute * rng.randrange(0, 30000))
        for i in range(150)
    ]
    w_us = 6 * 60 * minute
    # exact-edge ties: two builds at x = t - w and two at t, NULL chan
    pts = base + minute * 40000
    probes.append((7, 900, pts))
    builds += [
        (7, pts - w_us, "q1"),
        (7, pts - w_us, None),
        (7, pts, "q9"),
        (7, pts, None),
    ]
    # empty-window probe
    probes.append((8, 901, base + minute * 60 * 24 * 60))

    def order(b):  # (ts, channel) with NULL channel above every value
        return (b[1], b[2] is None, b[2] or "")

    expect = {}
    for u, pid, t in probes:
        inside = [b for b in builds if b[0] == u and t - w_us <= b[1] <= t]
        expect[pid] = (
            (min(inside, key=order)[2], max(inside, key=order)[2])
            if inside else (None, None)
        )
    assert expect[900] == ("q1", None) and expect[901] == (None, None)
    assert any(u is None and expect[pid] != (None, None) for u, pid, _ in probes)

    pdf = spark.createDataFrame(probes, "u long, pid long, ptu long")
    bdf = spark.createDataFrame(builds, "u long, btu long, ch string")
    got = {
        r["pid"]: (r["f_ch"], r["l_ch"])
        for r in _windowed_first_last_build(
            pdf, bdf, ["u"], ["pid"], "ptu", "btu", ["ch"], w_us
        ).collect()
    }
    assert got == expect
