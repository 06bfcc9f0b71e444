"""Oracle-checked queries for the reference's pipeline-shaped operators not
yet covered by plans/queries.py: C12 year-range expansion, C13 date-range
derivation, K5 collate, X3 CV event extraction, C10/X5 units+percent
validation (with C11 strict recode).

Inputs are the driver's testdata tables; where the reference operator
consumes bespoke text (CV free text), the corpus is synthesized
deterministically from ``orders`` inside the query so the DuckDB oracle can
derive the expected output independently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cv_events import extract_cv_events
from ..operators.textops import expand_year_ranges, recode_map, year_date_range
from ..sinks.es import collate, stamp_es_fields
from .queries import _t, register


# ---------------------------------------------------------------- C12
@register(
    "expand_year_ranges_customers",
    sql="""
WITH r AS (
  SELECT o_custkey AS custkey,
         min(year(o_orderdate)) AS y0,
         max(year(o_orderdate)) AS y1
  FROM orders GROUP BY 1
)
SELECT custkey,
       CAST(len(list_sort(list_distinct(list_append(generate_series(y0, y1), y1 + 2)))) AS BIGINT) AS n_years,
       array_to_string(list_sort(list_distinct(list_append(generate_series(y0, y1), y1 + 2))), ',') AS years_csv
FROM r
""",
)
def expand_year_ranges_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 (flows/datasets.py:115-127): '{y0}-{y1},{y1+2}' range syntax
    expanded to the sorted distinct year list — built per customer from
    order-date extremes so the oracle can derive it with generate_series."""
    o = _t(spark, sf_dir, "orders")
    r = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.min(F.year("o_orderdate")).alias("y0"),
        F.max(F.year("o_orderdate")).alias("y1"),
    )
    rng = F.concat_ws(
        ",",
        F.concat_ws("-", F.col("y0").cast("string"), F.col("y1").cast("string")),
        (F.col("y1") + 2).cast("string"),
    )
    years = expand_year_ranges(rng)
    return r.select(
        "custkey",
        F.size(years).cast("long").alias("n_years"),
        F.array_join(F.transform(years, lambda y: y.cast("string")), ",").alias(
            "years_csv"
        ),
    )


# ---------------------------------------------------------------- C13
@register(
    "date_range_months",
    sql="""
SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS yr,
       strftime(make_date(CAST(year(o_orderdate) AS INT), 1, 1), '%Y-%m-%d') AS range_from,
       strftime(make_date(CAST(year(o_orderdate) AS INT), 12, 31), '%Y-%m-%d') AS range_to,
       array_to_string(list_transform(generate_series(1, 12),
           m -> printf('%04d-%02d', CAST(year(o_orderdate) AS INT), m)), ',') AS months_csv
FROM orders
""",
)
def date_range_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 (obsolete/prepare_data_for_es.py:209-218): year -> date-range
    bounds + the 12 YYYY-MM month strings."""
    o = _t(spark, sf_dir, "orders")
    yrs = o.select(F.year("o_orderdate").cast("long").alias("yr")).distinct()
    frm, to, months = year_date_range("yr")
    return yrs.select(
        "yr",
        F.date_format(frm, "yyyy-MM-dd").alias("range_from"),
        F.date_format(to, "yyyy-MM-dd").alias("range_to"),
        F.array_join(months, ",").alias("months_csv"),
    )


# ---------------------------------------------------------------- K5
@register(
    "collate_documents",
    sql="""
SELECT doc_id,
       CAST(202601 AS BIGINT) AS revision,
       CAST(1.0 AS DOUBLE) AS score,
       to_json(struct_pack(text := text, lang := lang, source := source,
                           n_chars := n_chars)) AS value
FROM documents
""",
)
def collate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 (flows/dump_to_es.py:105-132): fold every non-reserved column into
    the single ``value`` JSON object; output schema exactly
    (doc_id, revision, score, value)."""
    d = _t(spark, sf_dir, "documents")
    return collate(stamp_es_fields(d, revision=202601, now=0.0))


# ---------------------------------------------------------------- X3
_CV_PHRASES = {
    "1-URGENT": "appointed to the bench",
    "2-HIGH": "retired from service",
}
_CV_DEFAULT = "served in role"


@register(
    "cv_events_orders",
    sql="""
SELECT o_custkey AS id,
       CAST(year(o_orderdate) AS INT) AS event_year,
       CASE WHEN o_orderpriority = '1-URGENT' THEN 'appointment'
            WHEN o_orderpriority = '2-HIGH' THEN 'retirement'
            ELSE 'other' END AS event_type,
       printf('%d %s note %d', year(o_orderdate),
              CASE WHEN o_orderpriority = '1-URGENT' THEN 'appointed to the bench'
                   WHEN o_orderpriority = '2-HIGH' THEN 'retired from service'
                   ELSE 'served in role' END,
              o_orderkey % 97) AS description
FROM orders
""",
)
def cv_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (flows/judges.py:46-125): CV free text -> dated event rows with
    continuation-line merge and keyword classification. The CV corpus is
    synthesized from orders — per customer, one year-bearing line plus one
    year-less continuation line per order — so the oracle derives the
    expected (id, event_year, event_type, description) rows directly."""
    o = _t(spark, sf_dir, "orders")
    phrase = recode_map("o_orderpriority", _CV_PHRASES, default=_CV_DEFAULT)
    chunk = F.concat(
        F.year("o_orderdate").cast("string"),
        F.lit(" "),
        phrase,
        F.lit("\nnote "),
        (F.col("o_orderkey") % 97).cast("string"),
    )
    cvs = (
        o.select(F.col("o_custkey").alias("custkey"), F.col("o_orderkey"), chunk.alias("chunk"))
        .groupBy("custkey")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("o_orderkey").alias("o"), F.col("chunk").alias("v"))
                        )
                    ),
                    lambda s: s["v"],
                ),
            ).alias("cv")
        )
    )
    return extract_cv_events(
        cvs,
        "custkey",
        "cv",
        {"appointment": ["appointed"], "retirement": ["retired"]},
    )


# ---------------------------------------------------------------- C10/X5/C11
@register(
    "units_percent_check",
    sql="""
SELECT CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
            WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
            ELSE '__UNKNOWN__' END AS unit_class,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN value BETWEEN 0 AND 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_01,
       (sum(CASE WHEN value BETWEEN 0 AND 1 THEN 1 ELSE 0 END) = count(*)) AS all_unit_interval
FROM events GROUP BY 1
""",
)
def units_percent_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 units whitelist (flows/datasets.py:140-147) + X5 percent sanity
    (datasets.py:150-164) + C11 strict recode: unknown units surface as the
    '__UNKNOWN__' sentinel instead of silently passing."""
    e = _t(spark, sf_dir, "events")
    unit = recode_map(
        "event_type",
        {
            "click": "engagement",
            "view": "engagement",
            "purchase": "conversion",
            "signup": "conversion",
        },
        strict=True,
    )
    in01 = F.when((F.col("value") >= 0) & (F.col("value") <= 1), 1).otherwise(0)
    return e.groupBy(unit.alias("unit_class")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(in01).cast("long").alias("n_in_01"),
        (F.sum(in01) == F.count(F.lit(1))).alias("all_unit_interval"),
    )


# ---------------------------------------------------------------- fingerprint
@register(
    "doc_fingerprint_documents",
    sql="""
WITH w AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
             list_filter(string_split_regex(trim(text), '[ \\t\\n\\f\\r]+'), x -> x <> ''),
             x -> lower(x)))) AS ws
  FROM documents
)
SELECT doc_id, md5(array_to_string(ws, ' ')) AS fingerprint,
       CAST(len(ws) AS BIGINT) AS n_distinct_words
FROM w
""",
)
def doc_fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (OpenRefine-style): md5 of sorted distinct
    lowercased words — the clustering key for fuzzy duplicate groups."""
    from ..llm.textanalysis import doc_fingerprint, words

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        doc_fingerprint("text").alias("fingerprint"),
        F.size(
            F.array_distinct(F.transform(words("text"), F.lower))
        ).cast("long").alias("n_distinct_words"),
    )


# ---------------------------------------------------------------- salted agg
@register(
    "salted_agg_lineitem",
    sql="""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY 1, 2
""",
)
def salted_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (operators/scale.salted_aggregate):
    the hot key spreads over 16 salted partial groups, then combines — result
    identical to the plain GROUP BY, which is exactly what the oracle runs."""
    from ..operators.scale import salted_aggregate

    li = _t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "n": ("l_quantity", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "max_price": ("l_extendedprice", "max"),
        },
        n_salts=16,
        entropy_cols=["l_orderkey"],
    )
    return out.withColumn("sum_qty", F.round("sum_qty", 2)).withColumn(
        "max_price", F.round("max_price", 2)
    )


@register(
    "salted_topk_lineitem",
    sql="""
SELECT l_returnflag, l_orderkey, l_linenumber,
       round(l_extendedprice, 2) AS price
FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         rank() OVER (PARTITION BY l_returnflag
                      ORDER BY l_extendedprice DESC) AS rk
  FROM lineitem
) WHERE rk <= 5
""",
)
def salted_topk_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-key top-k (operators/scale.salted_topk, new r10): top-5
    lineitems by price per returnflag — 3 groups over the whole fact table
    is exactly the hot-key shape the plain window serializes (every row of a
    group sorts in ONE task). Two-phase: per-(key, salt) partial top-k in 16
    parallel sorts, then a k-bounded combine; the rank()<=k tie contract
    matches the oracle window verbatim. The Zipfian 5M-row rung for this
    operator is in SCALING.md (events_skewed)."""
    from ..operators.scale import salted_topk

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = salted_topk(li, ["l_returnflag"], "l_extendedprice", k=5, n_salts=16)
    return out.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
    )
