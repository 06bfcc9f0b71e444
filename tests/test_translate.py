"""split_and_translate semantics (flows/i18n.py:80-163): exact lookup on the
cleaned value, fuzzy fallback over the misses, four array outputs and the
top-2 ambiguity flag. Rows are compared by id, except where row order is the
point."""

import random

import pytest
from pyspark.sql import functions as F

from migdar_data_pipelines_spark.operators.translate import (
    TranslationTable,
    split_and_translate,
)

NBSP = "\u00a0"


@pytest.fixture(scope="module")
def table(spark):
    return TranslationTable(
        spark.createDataFrame(
            [
                ("Health", "בריאות", "Health", "الصحة"),
                ("Employment", "תעסוקה", "Employment", "العمل"),
            ],
            "key string, hebrew string, english string, arabic string",
        )
    )


def _translate(spark, values, table, **kw):
    df = spark.createDataFrame(list(enumerate(values)), "id int, field string")
    out = split_and_translate(df, "field", table, **kw)
    return out, {r["id"]: r.asDict() for r in out.collect()}


def test_output_columns_replace_the_field(spark, table):
    out, _ = _translate(spark, ["Health"], table, capture_ambiguity=True)
    assert out.columns == [
        "id", "field", "field__en", "field__ar", "field__all", "field__ambiguous"
    ]


def test_unmatched_values_pass_through_to_all_four_columns(spark, table):
    _, rows = _translate(spark, ["Zzqx Wvut"], table)
    row = rows[0]
    for c in ("field", "field__en", "field__ar", "field__all"):
        assert row[c] == ["Zzqx Wvut"], c


def test_element_order_and_all(spark, table):
    _, rows = _translate(spark, ["Employment, Zzqx, Health, Employment"], table)
    row = rows[0]
    assert row["field"] == ["תעסוקה", "Zzqx", "בריאות", "תעסוקה"]
    assert row["field__en"] == ["Employment", "Zzqx", "Health", "Employment"]
    assert row["field__ar"] == ["العمل", "Zzqx", "الصحة", "العمل"]
    # per element: hebrew, english, arabic; then first occurrence wins
    assert row["field__all"] == [
        "תעסוקה", "Employment", "العمل", "Zzqx", "בריאות", "Health", "الصحة"
    ]


def test_null_and_empty_fields_give_one_null_element(spark, table):
    _, rows = _translate(spark, [None, "", " , ,"], table, capture_ambiguity=True)
    for i in range(3):
        row = rows[i]
        for c in ("field", "field__en", "field__ar", "field__all"):
            assert row[c] == [None], (i, c)
        assert row["field__ambiguous"] is False, i


def test_uqratio_hit_on_a_misspelled_key(spark, table):
    # UQRatio("helth", "health") = round(200 * 5 / 11) = 91 >= 90
    _, rows = _translate(spark, ["Helth", "Emploment"], table, capture_ambiguity=True)
    assert rows[0]["field"] == ["בריאות"]
    assert rows[0]["field__en"] == ["Health"]
    assert rows[1]["field__ar"] == ["العمل"]
    assert rows[0]["field__ambiguous"] is False


def test_punctuation_dirt_matches_under_uqratio_only(spark, table):
    # full_process strips '!!' (score 100); levenshtein scores 100 * (1 - 2/8)
    _, uq = _translate(spark, ["Health!!"], table, scorer="uqratio")
    _, lev = _translate(spark, ["Health!!"], table, scorer="levenshtein")
    assert uq[0]["field__en"] == ["Health"]
    assert lev[0]["field__en"] == ["Health!!"]
    assert lev[0]["field"] == ["Health!!"]


def test_case_nbsp_and_whitespace_variants_resolve_alike(spark, table):
    variants = ["health", "  HEALTH  ", f"Health{NBSP}", f"{NBSP}hEaLtH", "Health"]
    _, rows = _translate(spark, variants, table, scorer="levenshtein")
    for i in range(len(variants)):
        assert rows[i]["field"] == ["בריאות"], variants[i]
        assert rows[i]["field__en"] == ["Health"], variants[i]


def test_capture_ambiguity_needs_different_translations(spark):
    # 'abcdefghix' scores 90 against both keys (LCS 9 of 10); the tie goes
    # to the smaller key, and the runner-up also clears the cutoff
    def tbl(second):
        return TranslationTable(
            spark.createDataFrame(
                [("abcdefghik", *second), ("abcdefghij", "J", "j", "ج")],
                "key string, hebrew string, english string, arabic string",
            )
        )

    _, differ = _translate(spark, ["abcdefghix", "abcdefghij"], tbl(("K", "k", "ك")),
                           capture_ambiguity=True)
    assert differ[0]["field"] == ["J"]
    assert differ[0]["field__ambiguous"] is True
    # an exact hit is never ambiguous
    assert differ[1]["field__ambiguous"] is False

    _, same = _translate(spark, ["abcdefghix"], tbl(("J", "j", "ج")), capture_ambiguity=True)
    assert same[0]["field"] == ["J"]
    assert same[0]["field__ambiguous"] is False


def test_levenshtein_tie_goes_to_the_smaller_key(spark):
    table = TranslationTable(
        spark.createDataFrame(
            [("abcy", "Y"), ("abcx", "X")], "key string, hebrew string"
        ),
        translations=("hebrew",),
    )
    # both keys are one edit away: 100 * (1 - 1/4) = 75
    _, rows = _translate(
        spark, ["abcz"], table, scorer="levenshtein", score_cutoff=70.0,
        suffixes={"": "hebrew"},
    )
    assert rows[0]["field"] == ["X"]
    assert rows[0]["field__all"] == ["X"]


def test_output_keeps_the_input_row_order(spark, table):
    values = ["Health, Helth", None, "Zzqx", "Employment", "Emploment, Health"]
    df = spark.createDataFrame(
        [(i, values[i % len(values)]) for i in range(400)], "id int, field string"
    )
    assert df.rdd.getNumPartitions() > 1
    out = split_and_translate(df, "field", table)
    assert [r["id"] for r in out.collect()] == list(range(400))


def test_a_null_key_row_matches_nothing(spark):
    table = TranslationTable(
        spark.createDataFrame(
            [(None, "N", "n", "ن"), ("Health", "בריאות", "Health", "الصحة")],
            "key string, hebrew string, english string, arabic string",
        )
    )
    for scorer in ("uqratio", "levenshtein"):
        _, rows = _translate(spark, ["Helth", "Zzqx", None], table, scorer=scorer,
                             score_cutoff=80.0, capture_ambiguity=True)
        assert rows[0]["field"] == ["בריאות"], scorer
        assert rows[1]["field"] == ["Zzqx"], scorer
        assert rows[2]["field"] == [None], scorer
        assert [rows[i]["field__ambiguous"] for i in range(3)] == [False] * 3, scorer


def test_first_row_in_table_order_wins_a_duplicate_key(spark):
    # two rows clean to each key; in a repartitioned table the winner is the
    # first in the table's own row order, and the loser takes no part in
    # the fuzzy ranking either (it would make 'abcdefghix' ambiguous)
    schema = "key string, hebrew string, english string, arabic string"
    rows = [
        ("Health", "H1", "h1", "ح1"),
        ("abcdefghij", "J1", "j1", "ج1"),
        ("Employment", "E", "e", "ع"),
        ("  HEALTH ", "H2", "h2", "ح2"),
        (f"ABCDEFGHIJ{NBSP}", "J2", "j2", "ج2"),
    ]
    tdf = spark.createDataFrame(rows, schema).coalesce(1).repartition(3)
    assert tdf.rdd.getNumPartitions() == 3
    first = {}
    for r in tdf.collect():
        first.setdefault(r["key"].replace(NBSP, " ").strip().lower(), r)
    values = ["Health", "Helth", "abcdefghij", "abcdefghix", "Employment"]
    _, out = _translate(spark, values, TranslationTable(tdf), capture_ambiguity=True)
    assert [out[i]["field"] for i in range(5)] == [
        [first["health"]["hebrew"]],
        [first["health"]["hebrew"]],
        [first["abcdefghij"]["hebrew"]],
        [first["abcdefghij"]["hebrew"]],
        ["E"],
    ]
    _, ref = _translate(
        spark, values, TranslationTable(spark.createDataFrame(list(first.values()), schema)),
        capture_ambiguity=True,
    )
    assert out == ref
    assert [out[i]["field__ambiguous"] for i in range(5)] == [False] * 5


def _random_pairs(n, alphabet="ab cאב!", hi=12):
    rng = random.Random(7)
    word = lambda: "".join(rng.choice(alphabet) for _ in range(rng.randint(0, hi)))  # noqa: E731
    return [(word(), word()) for _ in range(n)]


def test_lcs_len_matches_the_dynamic_program():
    from migdar_data_pipelines_spark.operators.translate import _lcs_len

    def dp(a, b):
        prev = [0] * (len(b) + 1)
        for ca in a:
            cur = [0]
            for j, cb in enumerate(b):
                cur.append(prev[j] + 1 if ca == cb else max(prev[j + 1], cur[j]))
            prev = cur
        return prev[-1]

    for a, b in _random_pairs(20000):
        assert _lcs_len(a, b) == dp(a, b), (a, b)


def test_levenshtein_twin_matches_spark(spark):
    from migdar_data_pipelines_spark.operators.translate import _levenshtein_py

    # Spark's form: 100 * (1 - lev / max(len)), round(.., 4) half-up
    pairs = _random_pairs(2000) + [("", ""), ("abc", ""), ("abcdefg", "abcdefx")]
    df = spark.createDataFrame(pairs, "a string, b string")
    dist = F.levenshtein("a", "b")
    denom = F.greatest(F.length("a"), F.length("b"))
    sim = F.when(denom == 0, F.lit(100.0)).otherwise(
        F.round(100.0 * (1.0 - dist.cast("double") / denom.cast("double")), 4)
    )
    for r in df.select("a", "b", sim.alias("s")).collect():
        assert _levenshtein_py(r["a"], r["b"]) == r["s"], (r["a"], r["b"])
