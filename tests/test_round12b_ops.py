"""Round-12 second wave: Welch t-test, Gini, FD audit, OOV rate, ACF,
seasonal index, session paths — hand-computed fixtures plus the plan-shape
assertions that carry the 100 TB claims (single map-side groupBy for Welch,
one shared exchange+sort for every ACF lag, no cartesian anywhere)."""

import pytest
from pyspark.sql import functions as F

from migdar_data_pipelines_spark.llm.textanalysis import oov_rate
from migdar_data_pipelines_spark.operators.profile import (
    acf_by,
    gini_by,
    seasonal_index_by,
    welch_ttest_by,
)
from migdar_data_pipelines_spark.operators.validate import fd_audit
from migdar_data_pipelines_spark.operators.windows import session_paths


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------- Welch


def test_welch_hand_case(spark):
    # A = {1,2,3}: mean 2, var 1.  B = {2,4,6}: mean 4, var 4.
    # se2 = 1/3 + 4/3 = 5/3; t = 2/sqrt(5/3); df = (5/3)^2 / ((1/9+16/9)/2)
    rows = [("g", 1, False), ("g", 2, False), ("g", 3, False),
            ("g", 2, True), ("g", 4, True), ("g", 6, True)]
    df = spark.createDataFrame(rows, "g string, x int, s boolean")
    r = welch_ttest_by(df, "g", "x", "s").collect()[0]
    assert (r["n_a"], r["n_b"]) == (3, 3)
    assert r["mean_a"] == pytest.approx(2.0)
    assert r["mean_b"] == pytest.approx(4.0)
    assert r["t_stat"] == pytest.approx(2.0 / (5.0 / 3.0) ** 0.5, abs=1e-6)
    assert r["df_welch"] == pytest.approx(50.0 / 17.0, abs=1e-6)


def test_welch_constant_sides_null_t(spark):
    rows = [("g", 5, False), ("g", 5, False), ("g", 5, True), ("g", 5, True)]
    df = spark.createDataFrame(rows, "g string, x int, s boolean")
    r = welch_ttest_by(df, "g", "x", "s").collect()[0]
    assert r["t_stat"] is None and r["df_welch"] is None


def test_welch_small_side_null(spark):
    rows = [("g", 1, False), ("g", 3, False), ("g", 9, True)]
    df = spark.createDataFrame(rows, "g string, x int, s boolean")
    r = welch_ttest_by(df, "g", "x", "s").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 1)
    assert r["t_stat"] is None  # n_b < 2: no variance


def test_welch_plan_no_window_no_join(spark):
    rows = [("g", 1, False), ("g", 2, True)]
    df = spark.createDataFrame(rows, "g string, x int, s boolean")
    plan = _formatted_plan(welch_ttest_by(df, "g", "x", "s"))
    assert "Window" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


# ----------------------------------------------------------------- Gini


def test_gini_equal_values_zero(spark):
    df = spark.createDataFrame([("g", 5)] * 4, "g string, x int")
    assert gini_by(df, "g", "x").collect()[0]["gini"] == 0.0


def test_gini_concentrated(spark):
    # x sorted [0, 0, 10]: G = (2*30 - 4*10) / (3*10) = 2/3
    df = spark.createDataFrame(
        [("g", 0), ("g", 0), ("g", 10)], "g string, x int"
    )
    r = gini_by(df, "g", "x").collect()[0]
    assert r["gini"] == pytest.approx(2.0 / 3.0, abs=1e-6)
    assert r["total"] == 10.0


def test_gini_zero_total_null(spark):
    df = spark.createDataFrame([("g", 0), ("g", 0)], "g string, x int")
    assert gini_by(df, "g", "x").collect()[0]["gini"] is None


# -------------------------------------------------------------- FD audit


def test_fd_audit_hand_case(spark):
    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z")]
    df = spark.createDataFrame(rows, "d string, dep string")
    r = fd_audit(df, ["d"], "dep").collect()[0]
    assert r["n_classes"] == 2
    assert r["n_violating"] == 1
    assert r["n_rows"] == 4
    assert r["n_violating_rows"] == 3
    assert r["repair_cost"] == 1  # delete the single 'y' row


def test_fd_audit_holds(spark):
    rows = [("a", "x"), ("a", "x"), ("b", "y")]
    df = spark.createDataFrame(rows, "d string, dep string")
    r = fd_audit(df, ["d"], "dep").collect()[0]
    assert r["n_violating"] == 0 and r["repair_cost"] == 0


def test_fd_audit_nulls_excluded(spark):
    rows = [("a", "x"), ("a", None), (None, "y")]
    df = spark.createDataFrame(rows, "d string, dep string")
    r = fd_audit(df, ["d"], "dep").collect()[0]
    assert r["n_rows"] == 1 and r["n_classes"] == 1


# -------------------------------------------------------------- OOV rate


def test_oov_rate_hand_case(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in oov_rate(docs, min_count=2).collect()}
    # freqs: a=3, b=1, c=1 -> below min_count: b, c
    assert (out[1]["n_tokens"], out[1]["n_oov"], out[1]["oov_bp"]) == (3, 1, 3333)
    assert (out[2]["n_tokens"], out[2]["n_oov"], out[2]["oov_bp"]) == (2, 1, 5000)


def test_oov_rate_half_up_boundary(spark):
    # 1 oov of 8 tokens: 1250 exactly; 1 of 3: 3333.33 -> 3333;
    # 1 of 6: 1666.66 -> 1667 (half-up on the .5-free case is plain nearest)
    docs = spark.createDataFrame(
        [(1, "z " + "a " * 5 + "a")], "doc_id long, text string"
    )
    r = oov_rate(docs, min_count=2).collect()[0]
    assert r["n_tokens"] == 7 and r["n_oov"] == 1
    assert r["oov_bp"] == 1429  # 10000/7 = 1428.57 -> 1429


def test_oov_empty_doc_absent(spark):
    docs = spark.createDataFrame(
        [(1, "a a"), (2, "   ")], "doc_id long, text string"
    )
    ids = [r["doc_id"] for r in oov_rate(docs, min_count=1).collect()]
    assert ids == [1]


# ------------------------------------------------------------------ ACF


def test_acf_hand_case(spark):
    # x = [1,2,3,4]: acf(1) = 0.25, acf(2) = -0.3, acf(3) = -0.45
    rows = [("g", i, v) for i, v in enumerate([1, 2, 3, 4], 1)]
    df = spark.createDataFrame(rows, "g string, o int, x int")
    r = acf_by(df, "g", "o", "x", lags=(1, 2, 3)).collect()[0]
    assert r["acf_1"] == pytest.approx(0.25, abs=1e-6)
    assert r["acf_2"] == pytest.approx(-0.3, abs=1e-6)
    assert r["acf_3"] == pytest.approx(-0.45, abs=1e-6)


def test_acf_constant_series_null(spark):
    rows = [("g", i, 7) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, o int, x int")
    r = acf_by(df, "g", "o", "x", lags=(1,)).collect()[0]
    assert r["acf_1"] is None  # zero variance


def test_acf_short_series_null(spark):
    rows = [("g", 1, 1), ("g", 2, 5)]
    df = spark.createDataFrame(rows, "g string, o int, x int")
    r = acf_by(df, "g", "o", "x", lags=(1, 3)).collect()[0]
    assert r["acf_3"] is None  # n <= k


def test_acf_single_window_exchange(spark):
    rows = [("g", i, i * i % 7) for i in range(20)]
    df = spark.createDataFrame(rows, "g string, o int, x int")
    plan = _formatted_plan(acf_by(df, "g", "o", "x", lags=(1, 2, 3)))
    n_windows = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and line.split(") ", 1)[-1].startswith("Window")
    )
    assert n_windows == 1  # all lags fold into one Window node
    assert "CartesianProduct" not in plan


# -------------------------------------------------------- Seasonal index


def test_seasonal_index_hand_case(spark):
    # slot0: n=2 sum=30; slot1: n=1 sum=30; totals n=3 sum=60
    rows = [("g", 0, 10), ("g", 0, 20), ("g", 1, 30)]
    df = spark.createDataFrame(rows, "g string, slot int, x int")
    out = {r["slot"]: r for r in seasonal_index_by(df, "g", "slot", "x").collect()}
    assert out[0]["index_bp"] == 7500
    assert out[1]["index_bp"] == 15000
    assert out[0]["n_s"] == 2 and out[0]["slot_total"] == 30.0


def test_seasonal_index_uniform_10000(spark):
    rows = [("g", s, 50) for s in range(4) for _ in range(3)]
    df = spark.createDataFrame(rows, "g string, slot int, x int")
    assert all(
        r["index_bp"] == 10000
        for r in seasonal_index_by(df, "g", "slot", "x").collect()
    )


def test_seasonal_index_half_up(spark):
    # slot0 mean 1 vs overall mean 1.5: ratio 2/3 -> 6666.66 -> 6667
    rows = [("g", 0, 1), ("g", 1, 2)]
    df = spark.createDataFrame(rows, "g string, slot int, x int")
    out = {r["slot"]: r["index_bp"]
           for r in seasonal_index_by(df, "g", "slot", "x").collect()}
    assert out == {0: 6667, 1: 13333}


# --------------------------------------------------------- Session paths


def test_session_paths_hand_case(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1: one session a>b>c (events 5 min apart)
        (1, t0, 1, "a"), (1, t0 + dt.timedelta(minutes=5), 2, "b"),
        (1, t0 + dt.timedelta(minutes=10), 3, "c"),
        # user 1: gap > 30 min starts a second session, path "a"
        (1, t0 + dt.timedelta(hours=2), 4, "a"),
        # user 2: single-event session "a"
        (2, t0, 5, "a"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = session_paths(df, gap_minutes=30, max_len=5, top_k=10).collect()
    got = [(r["path"], r["n_sessions"], r["rank"]) for r in out]
    assert got == [("a", 2, 1), ("a>b>c", 1, 2)]


def test_session_paths_truncates(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=i), i, t) for i, t in enumerate("abcdefg")
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = session_paths(df, gap_minutes=30, max_len=3, top_k=5).collect()
    assert [r["path"] for r in out] == ["a>b>c"]


def test_session_paths_no_cartesian(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(u, t0 + dt.timedelta(minutes=i), u * 100 + i, "a")
            for u in (1, 2) for i in range(3)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    plan = _formatted_plan(session_paths(df))
    assert "CartesianProduct" not in plan


# ------------------------------------------------- Mann-Whitney / AUC


def test_rank_sum_auc_hand_case_with_tie(spark):
    # A = {1,2}, B = {2,3}: pairwise wins 3 + tie 0.5 -> AUC 3.5/4
    rows = [("g", 1, False), ("g", 2, False), ("g", 2, True), ("g", 3, True)]
    df = spark.createDataFrame(rows, "g string, x int, s boolean")
    from migdar_data_pipelines_spark.operators.profile import rank_sum_auc_by

    r = rank_sum_auc_by(df, "g", "x", "s").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert r["u_stat"] == pytest.approx(3.5)
    assert r["auc"] == pytest.approx(0.875, abs=1e-6)


def test_rank_sum_auc_separation_and_symmetry(spark):
    from migdar_data_pipelines_spark.operators.profile import rank_sum_auc_by

    rows = [("g", 1, False), ("g", 2, False), ("g", 5, True), ("g", 6, True)]
    df = spark.createDataFrame(rows, "g string, x int, s boolean")
    assert rank_sum_auc_by(df, "g", "x", "s").collect()[0]["auc"] == 1.0
    flipped = df.withColumn("s", ~F.col("s"))
    assert rank_sum_auc_by(flipped, "g", "x", "s").collect()[0]["auc"] == 0.0


def test_rank_sum_auc_identical_is_half(spark):
    from migdar_data_pipelines_spark.operators.profile import rank_sum_auc_by

    rows = [("g", v, s) for v in (1, 2, 3) for s in (False, True)]
    df = spark.createDataFrame(rows, "g string, x int, s boolean")
    assert rank_sum_auc_by(df, "g", "x", "s").collect()[0]["auc"] == 0.5


# -------------------------------------------------------------- RFM


def test_rfm_hand_case(spark):
    import datetime as dt

    rows = [
        (c, dt.datetime(2024, 1, c), 10.0 * c) for c in range(1, 6)
    ]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    from migdar_data_pipelines_spark.operators.profile import rfm_segments

    out = {
        (r["r_score"], r["f_score"], r["m_score"]): r
        for r in rfm_segments(df).collect()
    }
    # one order each: f_score 1 for all; recency and monetary fan 1..5
    assert set(out) == {(i, 1, i) for i in range(1, 6)}
    assert all(r["n_entities"] == 1 for r in out.values())
    assert out[(5, 1, 5)]["monetary_cents"] == 5000  # newest, biggest spender


def test_rfm_ties_share_scores(spark):
    import datetime as dt

    rows = [(c, dt.datetime(2024, 1, 1), 10.0) for c in range(1, 7)]
    df = spark.createDataFrame(
        rows, "o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    from migdar_data_pipelines_spark.operators.profile import rfm_segments

    out = rfm_segments(df).collect()
    assert len(out) == 1  # every entity identical -> one segment cell
    assert out[0]["n_entities"] == 6


# ------------------------------------------------- Degree assortativity


def test_assortativity_star_is_minus_one(spark):
    from migdar_data_pipelines_spark.operators.graph import degree_assortativity

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    r = degree_assortativity(edges).collect()[0]
    assert (r["n_nodes"], r["n_edges"]) == (4, 3)
    assert r["assortativity"] == pytest.approx(-1.0, abs=1e-6)


def test_assortativity_path_p4(spark):
    # P4 path graph: known r = -0.5
    from migdar_data_pipelines_spark.operators.graph import degree_assortativity

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    r = degree_assortativity(edges).collect()[0]
    assert r["assortativity"] == pytest.approx(-0.5, abs=1e-6)


def test_assortativity_regular_graph_null(spark):
    # 4-cycle: every degree 2 -> zero degree variance -> NULL
    from migdar_data_pipelines_spark.operators.graph import degree_assortativity

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    r = degree_assortativity(edges).collect()[0]
    assert r["assortativity"] is None


def test_assortativity_dedups_and_canonicalizes(spark):
    from migdar_data_pipelines_spark.operators.graph import degree_assortativity

    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 1), (0, 0), (0, 2), (0, 3)], "src long, dst long"
    )
    r = degree_assortativity(edges).collect()[0]
    assert r["n_edges"] == 3  # (0,1) once, self-loop dropped


# ----------------------------------------------------- Score lift table


def test_score_lift_hand_case(spark):
    from migdar_data_pipelines_spark.operators.profile import score_lift_deciles

    rows = [(x, x > 15) for x in range(1, 21)]
    df = spark.createDataFrame(rows, "x int, y boolean")
    out = {r["decile"]: r for r in score_lift_deciles(df, "x", "y").collect()}
    assert set(out) == set(range(1, 11))
    assert all(r["n"] == 2 for r in out.values())
    assert out[10]["n_pos"] == 2 and out[10]["pos_rate_bp"] == 10000
    assert out[10]["lift_bp"] == 40000  # 1.0 over base rate 0.25
    assert out[8]["n_pos"] == 1 and out[8]["lift_bp"] == 20000
    assert out[1]["n_pos"] == 0 and out[1]["lift_bp"] == 0


def test_score_lift_ties_collapse(spark):
    from migdar_data_pipelines_spark.operators.profile import score_lift_deciles

    rows = [(7, i % 3 == 0) for i in range(9)]
    df = spark.createDataFrame(rows, "x int, y boolean")
    out = score_lift_deciles(df, "x", "y").collect()
    assert len(out) == 1 and out[0]["n"] == 9  # one value -> one decile
    assert out[0]["lift_bp"] == 10000  # the only decile IS the base rate


def test_score_lift_no_positives_null_lift(spark):
    from migdar_data_pipelines_spark.operators.profile import score_lift_deciles

    rows = [(x, False) for x in range(30)]
    df = spark.createDataFrame(rows, "x int, y boolean")
    assert all(
        r["lift_bp"] is None and r["pos_rate_bp"] == 0
        for r in score_lift_deciles(df, "x", "y").collect()
    )


# ---------------------------------------------------- Streaming HLL


def test_streaming_hll_registers_match_batch_cross_batch(spark, tmp_path):
    """The drained final registers equal the batch sketch bit-for-bit with
    state carried across >= 2 micro-batches, and the python register/rho
    fold replicates sketches._rho digit-for-digit."""
    import shutil
    import tempfile

    import pandas as pd

    from migdar_data_pipelines_spark.operators.sketches import (
        _hll_registers_by,
    )
    from migdar_data_pipelines_spark.streaming.stateful import (
        streaming_hll_distinct,
    )
    from tests.test_streaming import run_available_now

    rows = [("a", i * 7 + 1) for i in range(40)] + [
        ("b", i * 13 + 5) for i in range(25)
    ]
    pdf = pd.DataFrame(rows, columns=["k", "uid"])
    src = str(tmp_path / "hll_src")
    spark.createDataFrame(pdf[:30]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(pdf[30:]).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k string, uid long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_hll_distinct(stream, ["k"], "uid")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        run_available_now(out, ckpt, query_name="t_shll_ut", output_mode="append")
        drained = spark.table("t_shll_ut")
        import pyspark.sql.functions as SF

        final = {
            r["k"]: r["regs"]
            for r in drained.groupBy("k")
            .agg(SF.max_by("regs", "rows_folded").alias("regs"))
            .collect()
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    batch = spark.createDataFrame(pdf)
    expected = {}
    for r in _hll_registers_by(batch, ["k"], "uid").collect():
        expected.setdefault(r["k"], {})[r["register"]] = r["max_rho"]
    assert set(final) == {"a", "b"}
    for k, regs in final.items():
        sparse = {i: v for i, v in enumerate(regs) if v > 0}
        assert sparse == expected[k], k


# -------------------------------------------------------- Golden record


def test_golden_record_majority_and_ties(spark):
    from migdar_data_pipelines_spark.operators.linkage import golden_record

    rows = [
        (1, "x", "A", None),
        (1, "x", "A", "5"),
        (1, "Y", "A", "5"),
        (2, "p", None, None),
        (2, "q", None, None),  # name tie 1-1 -> smallest wins ('p')
    ]
    df = spark.createDataFrame(rows, "cl long, n string, s string, v string")
    out = {r["cl"]: r for r in golden_record(df, "cl", ["n", "s", "v"]).collect()}
    assert (out[1]["n"], out[1]["s"], out[1]["v"]) == ("x", "A", "5")
    assert out[1]["n_records"] == 3
    assert out[2]["n"] == "p"  # deterministic tie-break
    assert out[2]["s"] is None and out[2]["v"] is None  # all-NULL -> NULL


def test_golden_record_no_window_no_cartesian(spark):
    from migdar_data_pipelines_spark.operators.linkage import golden_record

    df = spark.createDataFrame(
        [(i % 3, str(i), "s") for i in range(9)], "cl long, n string, s string"
    )
    plan = _formatted_plan(golden_record(df, "cl", ["n", "s"]))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------- Attribution


def test_attribution_hand_case(spark):
    import datetime as dt

    from migdar_data_pipelines_spark.operators.windows import attribution_report

    t0 = dt.datetime(2024, 1, 1)

    def ev(uid, mins, eid, typ, val):
        return (uid, t0 + dt.timedelta(minutes=mins), eid, typ, val)

    rows = [
        ev(1, 0, 1, "view", 0.0),
        ev(1, 5, 2, "click", 0.0),
        ev(1, 10, 3, "purchase", 2.0),
        ev(1, 15, 4, "purchase", 3.0),
        ev(2, 0, 5, "purchase", 7.0),  # no prior touch -> direct
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string, value double",
    )
    out = {
        (r["attribution"], r["channel"]): (r["conversions"], r["value_cents"])
        for r in attribution_report(df, "purchase").collect()
    }
    assert out[("last_touch", "click")] == (2, 500)
    assert out[("last_touch", "direct")] == (1, 700)
    assert out[("first_touch", "view")] == (2, 500)
    assert out[("first_touch", "direct")] == (1, 700)
    assert len(out) == 4


def test_attribution_single_window_node(spark):
    import datetime as dt

    from migdar_data_pipelines_spark.operators.windows import attribution_report

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (u, t0 + dt.timedelta(minutes=i), u * 10 + i,
         "purchase" if i % 3 == 2 else "view", 1.0)
        for u in (1, 2) for i in range(6)
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, ts timestamp, event_id long, event_type string, value double",
    )
    plan = _formatted_plan(attribution_report(df, "purchase"))
    n_windows = sum(
        1
        for line in plan.splitlines()
        if line.startswith("(") and line.split(") ", 1)[-1].startswith("Window")
    )
    assert n_windows == 1  # both carried channels share one Window node
    assert "CartesianProduct" not in plan


def test_streaming_attribution_cross_batch_state(spark, tmp_path):
    """First/last-touch state carries across micro-batches: a purchase in
    batch 2 credits the touch from batch 1."""
    import shutil
    import tempfile

    import pandas as pd

    from migdar_data_pipelines_spark.streaming.stateful import (
        streaming_attribution,
    )
    from tests.test_streaming import run_available_now

    rows1 = [(1, "view", 10, 101, 0), (1, "click", 20, 102, 0)]
    rows2 = [(1, "purchase", 30, 103, 500), (2, "purchase", 5, 201, 700)]
    cols = ["user_id", "event_type", "xus", "event_id", "cents"]
    src = str(tmp_path / "attr_src")
    spark.createDataFrame(pd.DataFrame(rows1, columns=cols)).coalesce(1)\
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(pd.DataFrame(rows2, columns=cols)).coalesce(1)\
        .write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, xus long, event_id long, cents long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_attribution(
        stream, "purchase", "user_id", "event_type", "cents",
        order_cols=["xus", "event_id"],
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        run_available_now(out, ckpt, query_name="t_attr_ut", output_mode="append")
        got = {
            r["event_id"]: (r["channel_last"], r["channel_first"])
            for r in spark.table("t_attr_ut").collect()
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    assert got[103] == ("click", "view")  # touches seen in the EARLIER batch
    assert got[201] == ("direct", "direct")
    assert len(got) == 2


# ------------------------------------------------------ WAPE backtest


def test_wape_hand_case(spark):
    from migdar_data_pipelines_spark.operators.profile import wape_backtest_by

    # series 10, 12, 9: forecasts 10, 12 -> |2| + |3| = 5 over 12 + 9 = 21
    rows = [("g", 1, 10), ("g", 2, 12), ("g", 3, 9)]
    df = spark.createDataFrame(rows, "g string, o int, x int")
    r = wape_backtest_by(df, "g", "o", "x").collect()[0]
    assert r["n_periods"] == 2
    assert r["wape_bp"] == 2381  # 5/21 = 0.238095 -> 2381 half-up


def test_wape_perfect_forecast_zero(spark):
    from migdar_data_pipelines_spark.operators.profile import wape_backtest_by

    rows = [("g", i, 7) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, o int, x int")
    assert wape_backtest_by(df, "g", "o", "x").collect()[0]["wape_bp"] == 0


def test_wape_single_period_absent(spark):
    from migdar_data_pipelines_spark.operators.profile import wape_backtest_by

    df = spark.createDataFrame([("g", 1, 5)], "g string, o int, x int")
    assert wape_backtest_by(df, "g", "o", "x").count() == 0


# ------------------------------------------------- Pairwise cross-corr


def test_pairwise_corr_perfect_and_anti(spark):
    from migdar_data_pipelines_spark.operators.profile import pairwise_corr_by

    rows = []
    for o, v in enumerate([1, 2, 3, 4]):
        rows += [("a", o, v), ("b", o, 2 * v + 5), ("c", o, 10 - v)]
    df = spark.createDataFrame(rows, "g string, o int, x int")
    out = {
        (r["group_a"], r["group_b"]): r["corr"]
        for r in pairwise_corr_by(df, "g", "o", "x").collect()
    }
    assert out[("a", "b")] == pytest.approx(1.0, abs=1e-6)
    assert out[("a", "c")] == pytest.approx(-1.0, abs=1e-6)
    assert out[("b", "c")] == pytest.approx(-1.0, abs=1e-6)


def test_pairwise_corr_constant_null_and_alignment(spark):
    from migdar_data_pipelines_spark.operators.profile import pairwise_corr_by

    rows = [("a", 1, 1), ("a", 2, 5), ("a", 3, 9),
            ("b", 1, 7), ("b", 2, 7),  # constant + missing o=3
            ("c", 9, 1)]  # no shared periods with a/b
    df = spark.createDataFrame(rows, "g string, o int, x int")
    out = {(r["group_a"], r["group_b"]): r
           for r in pairwise_corr_by(df, "g", "o", "x").collect()}
    assert out[("a", "b")]["n"] == 2  # inner alignment
    assert out[("a", "b")]["corr"] is None  # zero variance side
    assert ("a", "c") not in out  # no shared period -> no row


def test_seasonal_index_negative_sum_engine_parity(spark):
    """ADVICE r12: a negative slot sum makes the half-up numerator 2a+b
    negative, where Spark's pmod form FLOORS but DuckDB's `//` TRUNCATES
    toward zero — the generated mirror carries an explicit floor
    adjustment. Prove both engines agree (and on the true half-up value,
    i.e. half-toward-+inf) on a negative-sum slot."""
    import duckdb

    from migdar_data_pipelines_spark.operators.profile import (
        seasonal_index_by_sql,
    )

    rows = [("g", 0, -4), ("g", 1, 7)]
    df = spark.createDataFrame(rows, "g string, slot int, x int")
    out = {
        r["slot"]: r["index_bp"]
        for r in seasonal_index_by(df, "g", "slot", "x").collect()
    }
    # slot0: a = 10^4 * (-4) * 2 = -80000, b = 1*3 -> ratio -26666.67
    #   nearest integer is -26667 (floor((2a+b)/(2b)) = floor(-26666.17))
    #   truncation would give -26666 — the pre-fix DuckDB divergence.
    assert out == {0: -26667, 1: 46667}
    sql = seasonal_index_by_sql(
        "SELECT * FROM (VALUES ('g', 0, -4), ('g', 1, 7)) AS t(g, slot, x)"
    )
    duck = {r[1]: r[4] for r in duckdb.connect().execute(sql).fetchall()}
    assert duck == out


def test_streaming_hll_bool_canonicalization_matches_batch(spark, tmp_path):
    """ADVICE r12: boolean ids must canonicalize to 'true'/'false' (Spark
    CAST semantics), not Python str()'s 'True'/'False' or the old
    int-coercion's '1'/'0' — registers must equal the batch sketch."""
    import shutil
    import tempfile

    from migdar_data_pipelines_spark.operators.sketches import (
        _hll_registers_by,
    )
    from migdar_data_pipelines_spark.streaming.stateful import (
        streaming_hll_distinct,
    )
    from tests.test_streaming import run_available_now

    rows = [("a", i % 2 == 0) for i in range(10)]
    src = str(tmp_path / "hll_bool_src")
    spark.createDataFrame(rows, "k string, flag boolean").coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema("k string, flag boolean").parquet(src)
    out = streaming_hll_distinct(stream, ["k"], "flag")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        run_available_now(out, ckpt, query_name="t_shll_bool", output_mode="append")
        drained = spark.table("t_shll_bool")
        final = drained.orderBy(F.desc("rows_folded")).first()["regs"]
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    batch = spark.createDataFrame(rows, "k string, flag boolean")
    expected = {
        r["register"]: r["max_rho"]
        for r in _hll_registers_by(batch, ["k"], "flag").collect()
    }
    assert {i: v for i, v in enumerate(final) if v > 0} == expected


def test_streaming_hll_rejects_fractional_double(spark):
    """Fractional doubles canonicalize engine-specifically — the build must
    refuse them (the old code silently truncated 3.7 -> '3')."""
    from migdar_data_pipelines_spark.streaming.stateful import (
        streaming_hll_distinct,
    )

    df = spark.createDataFrame([("a", 3.7)], "k string, v double")
    with pytest.raises(ValueError, match="boolean/integral/string"):
        streaming_hll_distinct(df, ["k"], "v")
