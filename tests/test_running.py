"""Unit tests for the ordered operators of operators/windows.py:
running_totals, forward_fill and add_ordinal. Expected values are computed
in Python from the sorted rows."""

import random
from itertools import accumulate

from pyspark.sql import functions as F

from migdar_data_pipelines_spark.operators.windows import (
    add_ordinal,
    forward_fill,
    running_totals,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _expected(rows, key, value):
    """(row, cum, rank) for ``rows`` sorted by ``key``: the running sum of
    ``value`` and the 1-based position."""
    ordered = sorted(rows, key=key)
    cums = accumulate(value(r) for r in ordered)
    return [(r, c, i) for i, (r, c) in enumerate(zip(ordered, cums), 1)]


def test_running_totals_global_matches_window(spark):
    """A desc order key with a tie-break, no partition_by."""
    random.seed(7)
    data = [(i, random.randint(1, 100)) for i in range(500)]
    df = spark.createDataFrame(data, "id long, v long")

    got = running_totals(
        df, "v", order_by=[("v", "desc"), ("id", "asc")],
        cum_col="cum", rank_col="rk",
    )
    want = sorted(
        (i, v, cum, rk)
        for (i, v), cum, rk in _expected(data, lambda r: (-r[1], r[0]), lambda r: r[1])
    )
    assert _rows(got, "id", "v", "cum", "rk") == want
    assert dict(got.dtypes)["cum"] == "bigint"


def test_running_totals_grouped_matches_window(spark):
    random.seed(11)
    data = [
        (i, ["a", "b", "c"][i % 3], random.randint(1, 50)) for i in range(600)
    ]
    df = spark.createDataFrame(data, "id long, g string, v long")

    got = running_totals(
        df, "v", order_by=[("v", "asc"), ("id", "asc")],
        partition_by=["g"], cum_col="cum", rank_col="rk",
    )
    want = sorted(
        (i, g, cum, rk)
        for grp in "abc"
        for (i, g, _), cum, rk in _expected(
            [r for r in data if r[1] == grp], lambda r: (r[2], r[0]), lambda r: r[2]
        )
    )
    assert _rows(got, "id", "g", "cum", "rk") == want


def test_running_totals_double_values(spark):
    data = [(i, float(i % 13) + 0.25) for i in range(200)]
    df = spark.createDataFrame(data, "id long, v double")
    got = running_totals(df, "v", order_by=["id"], cum_col="cum")
    assert dict(got.dtypes)["cum"] == "double"
    want = {r[0]: cum for r, cum, _ in _expected(data, lambda r: r[0], lambda r: r[1])}
    rows = got.collect()
    assert len(rows) == len(data)
    for r in rows:
        assert abs(r["cum"] - want[r["id"]]) < 1e-6


def test_running_totals_rank_only(spark):
    """value_col=None ranks without a running sum (the top-K rank callers)."""
    data = [("t%02d" % i, (i * 37) % 19 + 1) for i in range(25)]
    df = spark.createDataFrame(data, "term string, freq long")
    got = running_totals(
        df, None, order_by=[("freq", "desc"), ("term", "asc")], rank_col="rank"
    )
    assert got.columns == ["term", "freq", "rank"]
    want = sorted(
        (t, f, rk) for (t, f), _, rk in _expected(data, lambda r: (-r[1], r[0]), lambda r: 0)
    )
    assert _rows(got, "term", "freq", "rank") == want


def test_building_ordered_frames_launches_no_job(spark):
    """The ordered operators only build a plan: no routing probe, count or
    persist runs a Spark job before the caller acts on the frame."""
    df = spark.createDataFrame(
        [(i, None if i % 3 else f"t{i}", i % 5) for i in range(40)],
        "__ord long, title string, v long",
    )
    sc = spark.sparkContext
    group = "ordered_frames_build"
    sc.setJobGroup(group, group)
    try:
        built = [
            forward_fill(df, "title"),
            add_ordinal(df),
            running_totals(df, "v", ["__ord"], rank_col="rk"),
            running_totals(df, "v", [("v", "desc"), "__ord"], partition_by=["title"]),
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert [r.title for r in built[0].orderBy("__ord").collect()][:4] == [
        "t0", "t0", "t0", "t3"
    ]
    assert [r.order_index for r in built[1].orderBy("__ord").collect()] == list(range(40))


def test_ewma_by_matches_python_reference(spark):
    """operators/windows.py::ewma_by vs the textbook bounded-window EWMA:
    warm-up rows use the truncated normalizer; steady state matches the
    recurrence-free weighted mean; per-key independence."""
    from migdar_data_pipelines_spark.operators.windows import ewma_by

    ALPHA, W = 0.25, 4
    q = 1 - ALPHA
    series = {"u1": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0], "u2": [5.0, 5.0, 5.0]}

    def ref(xs, t):
        m = min(W, t + 1)
        vals = xs[t - m + 1 : t + 1]
        num = sum(x * q ** (m - 1 - j) for j, x in enumerate(vals))
        den = sum(q**j for j in range(m))
        import math as _m
        # contract rounding: explicit IEEE floor(x*1e6 + 0.5)/1e6
        return _m.floor((num / den) * 1e6 + 0.5) / 1e6

    rows = [
        (u, i, x) for u, xs in series.items() for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "u string, i long, v double")
    got = {
        (r["u"], r["i"]): r["ewma"]
        for r in ewma_by(df, ["u"], ["i"], "v", alpha=ALPHA, window=W).collect()
    }
    import pytest as _pt

    for u, xs in series.items():
        for t in range(len(xs)):
            assert got[(u, t)] == _pt.approx(ref(xs, t), abs=1e-6), (u, t)
    # constant series smooths to itself everywhere
    assert all(got[("u2", t)] == 5.0 for t in range(3))


def test_ewma_by_null_values_cross_engine(spark):
    """ADVICE r7: ewma_by on a NULL-bearing value stream must agree with
    the generated DuckDB mirror — NULL observations drop out of the
    frame in BOTH engines (Spark collect_list drops implicitly; the
    mirror list_filters), and an all-NULL frame yields NULL ewma instead
    of a division error."""
    import duckdb

    from migdar_data_pipelines_spark.operators.windows import ewma_by, ewma_by_sql
    from tests import parity

    rows = [
        ("u1", 0, 10.0), ("u1", 1, None), ("u1", 2, 30.0), ("u1", 3, None),
        ("u1", 4, 50.0),
        # u2: leading all-NULL frame -> ewma NULL on the first rows
        ("u2", 0, None), ("u2", 1, None), ("u2", 2, 7.0),
    ]
    df = spark.createDataFrame(rows, "u string, i long, v double")
    got = ewma_by(df, ["u"], ["i"], "v", alpha=0.3, window=3)
    assert got.where((F.col("u") == "u2") & (F.col("i") < 2))\
              .where(F.col("ewma").isNull()).count() == 2

    con = duckdb.connect()
    con.sql(
        "CREATE TABLE t (u VARCHAR, i BIGINT, v DOUBLE)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    sql = ewma_by_sql("t", ["u"], ["i"], "v", alpha=0.3, window=3)
    parity.compare(got, con, sql, name="ewma_by_nulls")
