"""Unit tests for core operators on tiny inline frames (SURVEY.md §5.2.1)."""

import pytest
from pyspark.sql import functions as F

from migdar_data_pipelines_spark.operators import (
    add_field,
    concatenate,
    dedup_suffix,
    delete_fields,
    expand_year_ranges,
    extract_year,
    filter_rows_equals,
    first_seen_dedup,
    fix_url,
    format_field,
    forward_fill,
    md5_doc_id,
    normalize_none_strings,
    recode_map,
    rewrite_links_as_anchors,
    set_type,
    split_to_array,
    unpivot_regex,
    join_resources,
    join_self,
)
from migdar_data_pipelines_spark.operators.windows import stamp_ord


def test_filter_rows_equals(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "id int, k string")
    got = filter_rows_equals(df, [{"k": "a"}]).count()
    assert got == 2


def test_delete_fields_regex(spark):
    df = spark.createDataFrame(
        [(1, "x", "y", "z")], "id int, alt_name1 string, alt_name2 string, keep string"
    )
    out = delete_fields(df, ["alt_name[0-9]"])
    assert out.columns == ["id", "keep"]


def test_add_field_and_format(spark):
    df = spark.createDataFrame([("a",)], "migdar_id string")
    out = format_field(add_field(df, "score", "number", 10), "url", "publications/{migdar_id}")
    row = out.first()
    assert row.score == 10.0 and row.url == "publications/a"


def test_set_type_group_char_and_on_error(spark):
    df = spark.createDataFrame([("1,234",), ("bad",), (None,)], "v string")
    out = set_type(df, "v", "number", group_char=",", on_error_default=2020)
    vals = [r.v for r in out.collect()]
    assert vals == [1234.0, 2020.0, None]


def test_concatenate_alias_map(spark):
    a = spark.createDataFrame([("k1", "t1", 0)], "key string, Title string, __ord long")
    b = spark.createDataFrame([("k2", "t2", 0)], "key string, titre string, __ord long")
    out = concatenate(
        [a, b], {"migdar_id": ["key"], "title": ["Title", "titre"]}, keep_ord="__ord"
    )
    rows = {r.migdar_id: r.title for r in out.collect()}
    assert rows == {"k1": "t1", "k2": "t2"}


def test_concatenate_ord_bound_enforced(spark):
    """The documented 2^48 per-source ordinal bound is enforced at runtime
    (VERDICT r2 'What's wrong' #5): an __ord produced under > 32768 source
    partitions must fail loudly, not silently interleave across sources."""
    import pytest

    ok = spark.createDataFrame([("k1", 0)], "key string, __ord long")
    bad = spark.createDataFrame([("k2", 1 << 48)], "key string, __ord long")
    out = concatenate([ok, bad], {"migdar_id": ["key"]}, keep_ord="__ord")
    with pytest.raises(Exception, match="out of \\[0, 2\\^48\\)"):
        out.collect()
    # in-bound ordinals still compose: source index is the major key
    good = concatenate(
        [ok, spark.createDataFrame([("k2", (1 << 48) - 1)], "key string, __ord long")],
        {"migdar_id": ["key"]},
        keep_ord="__ord",
    )
    got = [r.migdar_id for r in good.orderBy("__ord").collect()]
    assert got == ["k1", "k2"]


def test_decimal_aggregation_discriminates(spark, sf_dir):
    """The decimal_pricing_summary query must actually exercise decimal
    fidelity: the same aggregation computed in double diverges from the
    exact decimal result under the driver's float-repr value normalization
    (otherwise the oracle hash would pass even for a sloppy double port)."""
    from pyspark.sql import functions as F

    from migdar_data_pipelines_spark.plans.queries import query_fns
    from tests.parity import _norm_cell

    dec_rows = {
        r["l_returnflag"]: r["sum_disc_qty_dec"]
        for r in query_fns()["decimal_pricing_summary"](spark, sf_dir).collect()
    }
    dbl_rows = {
        r["l_returnflag"]: r["v"]
        for r in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity") * (F.lit(1.0) - F.col("l_discount"))).alias("v"))
        .collect()
    }
    diverged = [
        k for k in dec_rows if _norm_cell(dec_rows[k]) != _norm_cell(dbl_rows[k])
    ]
    assert diverged, (dec_rows, dbl_rows)


def test_unpivot_regex_melt(spark):
    df = spark.createDataFrame(
        [("c1", 1.0, 2.0)], "title string, `2010` double, `2011-2012` double"
    )
    out = unpivot_regex(df, r"^([12]\d{3})", "year", "value")
    got = sorted((r.year, r.value) for r in out.collect())
    assert got == [("2010", 1.0), ("2011", 2.0)]


def test_join_inner_vs_left(spark):
    tgt = spark.createDataFrame([(1, "a"), (2, "b")], "fk int, v string")
    src = spark.createDataFrame([(1, "X")], "pk int, name string")
    inner = join_resources(tgt, src, "pk", "fk", {"name": "gd_name"})
    left = join_resources(tgt, src, "pk", "fk", {"name": "gd_name"}, full=True)
    assert inner.count() == 1 and left.count() == 2
    assert inner.first().gd_name == "X"


def test_join_self_ordered_array(spark):
    df = spark.createDataFrame(
        [("g", "b", 1), ("g", "a", 0), ("h", "c", 0)], "k string, v string, __ord int"
    )
    out = join_self(
        df,
        ["k"],
        {
            "v": {"aggregate": "array", "name": "vs"},
            "k": {"aggregate": "count", "name": "n"},
        },
        order_col="__ord",
    )
    got = {r.k: (r.vs, r.n) for r in out.collect()}
    assert got == {"g": (["a", "b"], 2), "h": (["c"], 1)}


def test_forward_fill_and_dedup_suffix(spark):
    df = spark.createDataFrame(
        [(0, "t1"), (1, None), (2, None), (3, "t2")], "__ord int, title string"
    )
    out = forward_fill(df, "title")
    assert [r.title for r in out.orderBy("__ord").collect()] == ["t1", "t1", "t1", "t2"]

    df2 = spark.createDataFrame(
        [(0, "e1"), (1, "e1"), (2, "e2"), (3, "e1")], "__ord int, entity_id string"
    )
    out2 = dedup_suffix(df2, "entity_id")
    assert [r.entity_id for r in out2.orderBy("__ord").collect()] == [
        "e1",
        "e1.1",
        "e2",
        "e1.2",
    ]


def test_first_seen_dedup(spark):
    df = spark.createDataFrame(
        [(0, "u1", "a"), (1, "u1", "b"), (2, "u2", "c")], "__ord int, url string, src string"
    )
    out = first_seen_dedup(df, ["url"])
    got = {r.url: r.src for r in out.collect()}
    assert got == {"u1": "a", "u2": "c"}


def test_text_scalars(spark):
    df = spark.createDataFrame(
        [('תשס"ט 2009.', "example.com", "see http://x.y now", "None", "2010-2012,2014")],
        "pubyear string, url string, notes string, maybe string, ranges string",
    )
    out = (
        df.withColumn("year", extract_year("pubyear"))
        .withColumn("url", fix_url("url"))
        .withColumn("notes", rewrite_links_as_anchors("notes"))
        .withColumn("years", expand_year_ranges("ranges"))
    )
    out = normalize_none_strings(out, ["maybe"])
    r = out.first()
    assert r.year == 2009
    assert r.url == "http://example.com"
    assert 'href="http://x.y"' in r.notes
    assert r.maybe is None
    assert r.years == [2010, 2011, 2012, 2014]


def test_recode_strict_and_md5_id(spark):
    df = spark.createDataFrame([("line-ish",), ("?",)], "label string")
    out = df.withColumn("code", recode_map("label", {"line-ish": "line"}, strict=True))
    vals = [r.code for r in out.collect()]
    assert vals == ["line", "__UNKNOWN__"]
    df2 = spark.createDataFrame([("hello",)], "title string").withColumn(
        "doc_id", md5_doc_id("dataset/", "title")
    )
    import hashlib

    assert df2.first().doc_id == "dataset/" + hashlib.md5(b"hello").hexdigest()[:16]


def test_split_to_array(spark):
    df = spark.createDataFrame([("a, b ,, c",)], "tags string")
    assert df.select(split_to_array("tags").alias("t")).first().t == ["a", "b", "c"]


def test_determinism_under_repartition(spark):
    """SURVEY §5.2.4: order-dependent ops must not depend on partitioning."""
    data = [(i, f"e{i % 7}") for i in range(100)]
    df = spark.createDataFrame(data, "__ord int, entity_id string")
    a = dedup_suffix(df.repartition(1), "entity_id").orderBy("__ord").collect()
    b = dedup_suffix(df.repartition(13), "entity_id").orderBy("__ord").collect()
    assert a == b


# ------------------------------------------------------------ global order
def test_forward_fill_distributed_leading_nulls_stay_null(spark):
    """Leading nulls stay null on a repartitioned input."""
    base = spark.createDataFrame(
        [(0, None), (1, None), (2, "a"), (3, None)], "__ord int, v string"
    )
    got = sorted(
        (r["__ord"], r["v"])
        for r in forward_fill(base.repartition(4), "v").collect()
    )
    assert got == [(0, None), (1, None), (2, "a"), (3, "a")]


def test_profile_counts_and_minmax(spark):
    """profile(): exact per-column stats in one pass; approx mode agrees on
    this tiny frame; typed min/max (numeric ordering, not lexicographic)."""
    from migdar_data_pipelines_spark.operators.profile import profile

    df = spark.createDataFrame(
        [(1, "b", None), (2, "a", 5.0), (10, "a", None)],
        "k long, s string, v double",
    )
    rows = {r.column: r for r in profile(df).collect()}
    assert rows["k"].n_rows == 3 and rows["k"].n_null == 0
    assert rows["k"].n_distinct == 3
    # numeric ordering: min 1, max 10 (lexicographic would give max "2")
    assert (rows["k"].min_str, rows["k"].max_str) == ("1", "10")
    assert rows["s"].n_distinct == 2 and rows["s"].min_str == "a"
    assert rows["v"].n_null == 2 and rows["v"].n_distinct == 1

    approx = {r.column: r for r in profile(df, exact=False).collect()}
    assert approx["k"].n_distinct == 3  # HLL exact at this cardinality


def test_scd2_history_edges(spark):
    """scd2_history: single snapshot -> one open interval; unbroken equal
    runs collapse; A->B->A reopens a NEW interval (history, not distinct)."""
    import datetime as dt

    from migdar_data_pipelines_spark.operators.cdc import scd2_history

    d = dt.date
    rows = [
        (1, "A", d(2024, 1, 1)),                      # single snapshot
        (2, "A", d(2024, 1, 1)), (2, "A", d(2024, 1, 2)), (2, "A", d(2024, 1, 3)),
        (3, "A", d(2024, 1, 1)), (3, "B", d(2024, 1, 2)), (3, "A", d(2024, 1, 3)),
    ]
    df = spark.createDataFrame(rows, "k long, attr string, snap date")
    out = scd2_history(df, ["k"], ["attr"], "snap")
    got = sorted(
        (r.k, r.attr, str(r.valid_from), str(r.valid_to) if r.valid_to else None, r.is_current)
        for r in out.collect()
    )
    assert got == [
        (1, "A", "2024-01-01", None, True),
        (2, "A", "2024-01-01", None, True),            # run collapsed
        (3, "A", "2024-01-01", "2024-01-02", False),
        (3, "A", "2024-01-03", None, True),            # reopened interval
        (3, "B", "2024-01-02", "2024-01-03", False),
    ]


def test_constraint_report_kinds(spark):
    """constraint_report: row rules in one pass, duplicate counting beyond
    the first occurrence, FK orphans; clean rules report zero."""
    from pyspark.sql import functions as F

    from migdar_data_pipelines_spark.operators.validate import constraint_report

    df = spark.createDataFrame(
        [(1, 10, "x"), (1, -3, "y"), (1, 5, None), (2, 7, "x")],
        "id long, v long, tag string",
    )
    parent = spark.createDataFrame([(1,)], "pid long")
    rep = {
        r["rule"]: r["n_violations"]
        for r in constraint_report(
            df,
            row_rules={
                "neg_v": F.col("v") < 0,
                "null_tag": F.col("tag").isNull(),
                "never": F.lit(False),
            },
            unique={"unique_id": ["id"]},
            foreign_keys={"fk_parent": (parent, ["id"], ["pid"])},
        ).collect()
    }
    assert rep == {
        "neg_v": 1,
        "null_tag": 1,
        "never": 0,
        "unique_id": 2,   # three rows share id=1 -> two beyond the first
        "fk_parent": 1,   # id=2 has no parent
    }
