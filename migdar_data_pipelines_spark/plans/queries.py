"""Query registry: every implemented operator exposed as a (spark_fn, oracle_sql)
pair over the driver's testdata tables.

Each entry exercises one or more operators from SURVEY.md §2 against
`/root/testdata/sf*/` and carries an ANSI-SQL oracle DuckDB can run on the same
parquet (views pre-registered by the driver). Conventions for hash-stable
parity (the driver sorts columns by name and hashes values):

  * every computed/aggregate column aliased identically in Spark and SQL;
  * doubles rounded (sums to 2 dp, ratios/avgs to 4) on BOTH sides;
  * temporal outputs formatted to strings on BOTH sides;
  * integer-sum outputs cast to BIGINT in DuckDB (its SUM(int) is HUGEINT);
  * arrays joined to delimited strings on BOTH sides.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import (
    add_ordinal,
    concatenate,
    dedup_suffix,
    extract_year,
    first_seen_dedup,
    forward_fill,
    join_resources,
    join_self,
    unpivot_regex,
)
from ..operators.caching import release_scoped, session_memo
from ..operators.cdc import cdc_counts, hash_diff
from ..operators.textops import content_hash, md5_doc_id
from ..operators.translate import TranslationTable, split_and_translate
from ..session import local_df

QUERIES: dict[str, dict] = {}


def register(name: str, sql: str | None = None):
    """Register a (spark_fn, oracle_sql) query pair.

    The wrapper releases the current cache scope — outside any
    ``cache_scope()``, the PREVIOUS query's frames (see
    operators/caching.py) — at each invocation: sequential runners (driver
    correctness loop, perfbench) consume each result before calling the
    next query, so per-operator persists never accumulate across the
    session.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_scoped()
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = {"fn": wrapped, "sql": sql}
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Let AQE re-plan (coalesce/skew-split) stages that sit under a persist():
    # by default a cached plan's output partitioning is frozen, so a vanilla
    # session runs an LSH band self-join at sf0.01 across 200 full shuffle
    # partitions — task overhead, not work (measured 10.7s -> 1.6s with the
    # conf on). Runtime-settable, so queries behave under ANY caller session.
    spark.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    # Analyzed-plan memo for the immutable gate/bench tables.
    # `spark.read.parquet` eagerly lists files and reads a footer for the
    # schema — one or two small driver jobs per call — and the registry
    # calls _t() 1-3x per query x 200+ queries per suite pass, always on
    # the SAME immutable parquet inputs. This memoizes the PLAN only — no
    # data, no results; every action still scans the parquet files. Callers
    # that rewrite a table under a memoized path must use a fresh dir
    # (every test fixture already does).
    return session_memo(("_t", sf_dir, name), lambda: _t_read(spark, sf_dir, name))


def _t_read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized reader
        # rejects; read nanos as long and truncate to microseconds (DuckDB's
        # ns->us conversion also truncates, keeping parity).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship: the SURVEY §7.2 minimum end-to-end slice (publications shape):
# two sources -> concatenate (alias map, R2) -> filter (P1) -> broadcast join
# (J1) -> group_collect (J2) -> md5 doc id (C17).
# ---------------------------------------------------------------------------


@register(
    "flagship_entity_rollup",
    sql="""
WITH unioned AS (
  SELECT c_name AS name, c_acctbal AS acctbal, c_nationkey AS nationkey,
         'customer' AS kind FROM customer
  UNION ALL
  SELECT s_name, s_acctbal, s_nationkey, 'supplier' FROM supplier
), filtered AS (
  SELECT * FROM unioned WHERE acctbal > 0
), joined AS (
  SELECT f.*, n.n_name AS nation_name
  FROM filtered f JOIN nation n ON f.nationkey = n.n_nationkey
)
SELECT nation_name,
       CAST(count(*) AS BIGINT) AS n_entities,
       round(sum(acctbal), 2) AS sum_acctbal,
       max(name) AS max_name,
       concat('nation/', substr(md5(nation_name), 1, 16)) AS doc_id
FROM joined GROUP BY nation_name
""",
)
def flagship_entity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer, supplier, nation = (
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )
    unioned = concatenate(
        [
            customer.select(
                F.col("c_name").alias("name"),
                F.col("c_acctbal").alias("acctbal"),
                F.col("c_nationkey").alias("nationkey"),
                F.lit("customer").alias("kind"),
            ),
            supplier.select(
                F.col("s_name").alias("name"),
                F.col("s_acctbal").alias("acctbal"),
                F.col("s_nationkey").alias("nationkey"),
                F.lit("supplier").alias("kind"),
            ),
        ],
        {"name": None, "acctbal": None, "nationkey": None, "kind": None},
    )
    # concatenate projects unmapped columns to string; re-read acctbal as double
    unioned = unioned.withColumn("acctbal", F.col("acctbal").cast("double")).withColumn(
        "nationkey", F.col("nationkey").cast("int")
    )
    filtered = unioned.filter(F.col("acctbal") > 0)
    joined = join_resources(
        filtered, nation, "n_nationkey", "nationkey", {"n_name": "nation_name"}
    )
    rolled = join_self(
        joined,
        ["nation_name"],
        {
            "name": {"aggregate": "count", "name": "n_entities"},
            "acctbal": {"aggregate": "sum", "name": "sum_acctbal"},
            "kind": None,
        },
    ).drop("kind")
    # max(name) via a second agg spec would collide on dict key; do it inline
    maxes = joined.groupBy("nation_name").agg(F.max("name").alias("max_name"))
    out = rolled.join(maxes, "nation_name")
    return out.select(
        "nation_name",
        F.col("n_entities").cast("long").alias("n_entities"),
        F.round("sum_acctbal", 2).alias("sum_acctbal"),
        "max_name",
        md5_doc_id("nation/", "nation_name").alias("doc_id"),
    )


# ---------------------------------------------------------------------------
# Analytics suite (bench headliners): scan-heavy aggregations and multi-joins
# exercising Catalyst pushdown, partial aggregation and broadcast planning.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    sql="""
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    sql="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, li = (
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter((F.col("o_orderdate") < cutoff) & (F.col("l_shipdate") > cutoff))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    sql="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, li, s, n, r = (
        _t(spark, sf_dir, t)
        for t in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    )
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "topk_parts_per_brand",
    sql="""
SELECT p_brand, p_partkey, round(p_retailprice, 2) AS retailprice, CAST(rn AS BIGINT) AS rank
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
) WHERE rn <= 3
""",
)
def topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("p_brand", "p_partkey", F.round("p_retailprice", 2).alias("retailprice"), "rank")
    )


# ---------------------------------------------------------------------------
# Operator-parity queries (SURVEY §2 line items on testdata).
# ---------------------------------------------------------------------------


@register(
    "concatenate_entities",
    sql="""
SELECT c_name AS name, round(c_acctbal, 2) AS acctbal, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name, round(s_acctbal, 2), 'supplier' FROM supplier
""",
)
def concatenate_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: alias-mapped union (flows/publications.py:95-118)."""
    customer = _t(spark, sf_dir, "customer").withColumn("kind", F.lit("customer"))
    supplier = _t(spark, sf_dir, "supplier").withColumn("kind", F.lit("supplier"))
    out = concatenate(
        [customer, supplier],
        {"name": ["c_name", "s_name"], "acctbal": ["c_acctbal", "s_acctbal"], "kind": None},
    )
    return out.select("name", F.round(F.col("acctbal").cast("double"), 2).alias("acctbal"), "kind")


@register(
    "join_enrich_supplier_nation",
    sql="""
SELECT s_suppkey, s_name, round(s_acctbal, 2) AS acctbal,
       n.n_name AS gd_nation, n.n_regionkey AS gd_regionkey
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
""",
)
def join_enrich_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: inner enrichment join with renamed fields, broadcast dim
    (flows/judges.py:137-143 tribunals->judges)."""
    s, n = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation")
    out = join_resources(
        s, n, "n_nationkey", "s_nationkey",
        {"n_name": "gd_nation", "n_regionkey": "gd_regionkey"},
    )
    return out.select(
        "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"),
        "gd_nation", "gd_regionkey",
    )


@register(
    "group_collect_orders",
    sql="""
SELECT o_custkey,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS orderkeys,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_custkey
""",
)
def group_collect_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A1: join_self group-collect with order-pinned arrays
    (flows/datasets.py:364-376)."""
    o = _t(spark, sf_dir, "orders")
    rolled = join_self(
        o.withColumn("okey_str", F.col("o_orderkey").cast("string")),
        ["o_custkey"],
        {
            "okey_str": {"aggregate": "array", "name": "orderkeys_arr"},
            "o_orderstatus": {"aggregate": "count", "name": "n_orders"},
            "o_totalprice": {"aggregate": "max", "name": "max_price"},
        },
        order_col="o_orderkey",
    )
    return rolled.select(
        "o_custkey",
        F.array_join("orderkeys_arr", ",").alias("orderkeys"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("max_price", 2).alias("max_price"),
    )


@register(
    "forward_fill_events",
    sql="""
SELECT event_id,
       last_value(CASE WHEN event_id % 5 = 0 THEN event_type END IGNORE NULLS)
         OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS filled_type
FROM events
""",
)
def forward_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: forward fill in stream order (flows/datasets.py:303-309)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.withColumn(
        "filled_type", F.when(F.col("event_id") % 5 == 0, F.col("event_type"))
    )
    return forward_fill(base, "filled_type", order_col="event_id").select(
        "event_id", "filled_type"
    )


@register(
    "global_ordinal_lineitem",
    sql="""
SELECT l_orderkey, l_linenumber,
       CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS BIGINT)
         AS ordinal
FROM lineitem
""",
)
def global_ordinal_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/W3 on the largest table: operators/windows.py::add_ordinal, a
    global row_number. Order key l_orderkey*8 + l_linenumber is unique
    (linenumber <= 7) and sorts identically to (l_orderkey, l_linenumber)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    keyed = li.withColumn(
        "__ok", F.col("l_orderkey").cast("long") * 8 + F.col("l_linenumber")
    )
    out = add_ordinal(keyed, name="ordinal", order_col="__ok")
    return out.select("l_orderkey", "l_linenumber", "ordinal")


@register(
    "dedup_suffix_segments",
    sql="""
SELECT c_custkey,
       CASE WHEN rn > 1 THEN c_mktsegment || '.' || CAST(rn - 1 AS VARCHAR)
            ELSE c_mktsegment END AS segment_id
FROM (
  SELECT c_custkey, c_mktsegment,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
  FROM customer
)
""",
)
def dedup_suffix_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: duplicate-key suffixing (flows/organisations.py:44-52)."""
    c = _t(spark, sf_dir, "customer")
    out = dedup_suffix(c, "c_mktsegment", order_col="c_custkey", out="segment_id")
    return out.select("c_custkey", "segment_id")


@register(
    "first_seen_events",
    sql="""
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
""",
)
def first_seen_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/R3: first-seen-wins dedup (flows/broken_links.py:34-43)."""
    ev = _t(spark, sf_dir, "events")
    return first_seen_dedup(ev, ["user_id"], order_col="event_id").select(
        "user_id", "event_id", "event_type"
    )


@register(
    "unpivot_part_attrs",
    sql="""
SELECT p_partkey, 'size' AS attr, round(CAST(p_size AS DOUBLE), 2) AS val FROM part
UNION ALL
SELECT p_partkey, 'retailprice', round(p_retailprice, 2) FROM part
""",
)
def unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: regex melt wide->long (flows/datasets.py:323-334)."""
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    out = unpivot_regex(part, r"^p_(size|retailprice)$", "attr", "val")
    return out.select("p_partkey", "attr", F.round("val", 2).alias("val"))


@register(
    "extract_year_dirty",
    sql="""
SELECT o_orderkey,
       TRY_CAST(NULLIF(regexp_extract(
         concat('פורסם בשנת ', strftime(o_orderdate, '%Y'), ' לערך'),
         '[12][0-9]{3}'), '') AS INTEGER) AS pub_year
FROM orders
""",
)
def extract_year_dirty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: regex year extraction from dirty strings
    (flows/publications.py:51-63)."""
    o = _t(spark, sf_dir, "orders")
    dirty = F.concat(
        F.lit("פורסם בשנת "), F.date_format("o_orderdate", "yyyy"), F.lit(" לערך")
    )
    return o.select(
        "o_orderkey", extract_year(dirty).alias("pub_year")
    )


@register(
    "cdc_hash_diff_orders",
    sql="""
WITH existing AS (
  SELECT o_orderkey AS k,
         md5(concat_ws('|', o_orderstatus,
           CAST(CASE WHEN o_orderkey % 10 = 0
                     THEN round(o_totalprice * 2, 2)
                     ELSE o_totalprice END AS VARCHAR))) AS h
  FROM orders WHERE o_orderkey % 20 <> 1
  UNION ALL SELECT -1, 'synthetic'
), incoming AS (
  SELECT o_orderkey AS k,
         md5(concat_ws('|', o_orderstatus, CAST(o_totalprice AS VARCHAR))) AS h
  FROM orders
)
SELECT CASE WHEN e.k IS NULL THEN 'new'
            WHEN i.k IS NULL THEN 'stale'
            WHEN i.h = e.h THEN 'same'
            ELSE 'changed' END AS status,
       CAST(count(*) AS BIGINT) AS n
FROM incoming i FULL OUTER JOIN existing e ON i.k = e.k
GROUP BY 1
""",
)
def cdc_hash_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2/A3: hash-diff CDC classification + counts
    (obsolete/prepare_data_for_es.py:90-169)."""
    o = _t(spark, sf_dir, "orders")
    existing = (
        o.filter(F.col("o_orderkey") % 20 != 1)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 10 == 0, F.round(F.col("o_totalprice") * 2, 2)
            ).otherwise(F.col("o_totalprice")),
        )
        .select(
            "o_orderkey",
            content_hash(["o_orderstatus", "o_totalprice"]).alias("__hash"),
        )
    )
    synthetic = local_df(
        existing.sparkSession,
        [(-1, "synthetic")], "o_orderkey long, __hash string"
    )
    classified = hash_diff(
        o.select("o_orderkey", "o_orderstatus", "o_totalprice"),
        existing.unionByName(synthetic),
        "o_orderkey",
        ["o_orderstatus", "o_totalprice"],
    )
    return cdc_counts(classified).select(
        F.col("__status").alias("status"), F.col("n").cast("long").alias("n")
    )


@register(
    "fuzzy_translate_nations",
    sql="""
WITH inputs AS (
  SELECT n_nationkey AS id,
         concat(n_name,
                CASE WHEN n_nationkey % 2 = 1 THEN 'x' ELSE '' END,
                ',', 'NATION_5') AS field
  FROM nation
), lut AS (
  SELECT lower(trim(n_name)) AS tkey, n_name AS hebrew, lower(n_name) AS english
  FROM nation
), exploded AS (
  SELECT id, pos, trim(val) AS val FROM (
    SELECT id,
           unnest(string_split(field, ',')) AS val,
           unnest(generate_series(1, len(string_split(field, ',')))) AS pos
    FROM inputs
  ) WHERE trim(val) <> ''
), exact AS (
  SELECT e.id, e.pos, e.val, l.hebrew, l.english
  FROM exploded e LEFT JOIN lut l ON lower(e.val) = l.tkey
), fuzzy AS (
  SELECT m.id, m.pos, m.val, l.tkey, l.hebrew, l.english,
         CASE WHEN greatest(len(lower(m.val)), len(l.tkey)) = 0 THEN 100.0
              ELSE round(100.0 * (1.0 - CAST(levenshtein(lower(m.val), l.tkey) AS DOUBLE)
                   / greatest(len(lower(m.val)), len(l.tkey))), 4) END AS score
  FROM (SELECT id, pos, val FROM exact WHERE hebrew IS NULL) m CROSS JOIN lut l
), best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id, pos ORDER BY score DESC, tkey) AS rn
    FROM fuzzy
  ) WHERE rn = 1
), resolved AS (
  SELECT id, pos, val, hebrew, english FROM exact WHERE hebrew IS NOT NULL
  UNION ALL
  SELECT id, pos, val,
         CASE WHEN score >= 85 THEN hebrew END,
         CASE WHEN score >= 85 THEN english END
  FROM best
)
SELECT id,
       string_agg(coalesce(hebrew, val), ',' ORDER BY pos) AS field,
       string_agg(coalesce(english, val), ',' ORDER BY pos) AS field__en
FROM resolved GROUP BY id
""",
)
def fuzzy_translate_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: split_and_translate — exact + fuzzy lookup against a broadcast
    translation table (flows/i18n.py:80-163). Odd nation keys get a one-char
    corruption so the fuzzy path (normalized-Levenshtein >= 85) must resolve
    them; 'NATION_5' exercises the exact path on every row."""
    n = _t(spark, sf_dir, "nation")
    inputs = n.select(
        F.col("n_nationkey").alias("id"),
        F.concat(
            F.col("n_name"),
            F.when(F.col("n_nationkey") % 2 == 1, F.lit("x")).otherwise(F.lit("")),
            F.lit(",NATION_5"),
        ).alias("field"),
    )
    table = TranslationTable(
        n.select(
            F.col("n_name").alias("key"),
            F.col("n_name").alias("hebrew"),
            F.lower("n_name").alias("english"),
        ),
        key="key",
        translations=("hebrew", "english"),
    )
    out = split_and_translate(
        inputs, "field", table, delimiter=",", score_cutoff=85.0,
        suffixes={"": "hebrew", "__en": "english"}, scorer="levenshtein",
    )
    return out.select(
        "id",
        F.array_join("field", ",").alias("field"),
        F.array_join("field__en", ",").alias("field__en"),
    )


@register(
    "uqratio_translate_nations",
    sql=r"""
WITH RECURSIVE inputs AS (
  SELECT n_nationkey AS id,
         concat(n_name, CASE WHEN n_nationkey % 2 = 1 THEN 'x' ELSE '!!' END,
                ',', 'NATION_0') AS field
  FROM nation
), lut AS (
  SELECT lower(trim(n_name)) AS tkey, n_name AS hebrew, lower(n_name) AS english
  FROM nation
  UNION ALL
  SELECT lower(trim(n_name)) || 'xy', n_name || 'XY', lower(n_name) || 'xy'
  FROM nation
), lutp AS (
  SELECT tkey, hebrew, english,
         trim(lower(regexp_replace(tkey, '[^\p{L}\p{N}_]', ' ', 'g'))) AS pb
  FROM lut
), exploded AS (
  SELECT id, pos, trim(val) AS val FROM (
    SELECT id,
           unnest(string_split(field, ',')) AS val,
           unnest(generate_series(1, len(string_split(field, ',')))) AS pos
    FROM inputs
  ) WHERE trim(val) <> ''
), exact AS (
  SELECT e.id, e.pos, e.val, l.hebrew, l.english
  FROM exploded e LEFT JOIN lut l ON lower(e.val) = l.tkey
), m AS (
  SELECT id, pos, val,
         trim(lower(regexp_replace(lower(val), '[^\p{L}\p{N}_]', ' ', 'g'))) AS pa
  FROM exact WHERE hebrew IS NULL
), pairs AS (
  SELECT m.id, m.pos, m.val, m.pa, l.tkey, l.pb, l.hebrew, l.english,
         len(m.pa) AS la, len(l.pb) AS lb
  FROM m CROSS JOIN lutp l
), lcs AS (
  SELECT id, pos, tkey, 0 AS i,
         list_transform(generate_series(1, lb + 1), x -> 0) AS r
  FROM pairs
  UNION ALL
  SELECT c.id, c.pos, c.tkey, c.i + 1,
         list_transform(generate_series(1, p.lb + 1), j ->
           CASE WHEN j = 1 THEN 0 ELSE
             list_max(list_transform(generate_series(2, j), k ->
               greatest(c.r[k],
                        c.r[k-1] + CASE WHEN substr(p.pa, c.i + 1, 1)
                                             = substr(p.pb, k - 1, 1)
                                        THEN 1 ELSE 0 END)))
           END)
  FROM lcs c JOIN pairs p ON p.id = c.id AND p.pos = c.pos AND p.tkey = c.tkey
  WHERE c.i < p.la
), scored AS (
  SELECT p.id, p.pos, p.val, p.tkey, p.hebrew, p.english,
         CASE WHEN p.la = 0 OR p.lb = 0 THEN 0.0
              ELSE round_even(200.0 * l.r[p.lb + 1] / (p.la + p.lb), 0) END AS score
  FROM pairs p JOIN lcs l
    ON l.id = p.id AND l.pos = p.pos AND l.tkey = p.tkey AND l.i = p.la
), best AS (
  SELECT *, row_number() OVER (PARTITION BY id, pos ORDER BY score DESC, tkey) AS rn
  FROM scored
), r1 AS (SELECT * FROM best WHERE rn = 1),
r2 AS (SELECT id, pos, score AS s2, hebrew AS h2, english AS e2 FROM best WHERE rn = 2),
fuzzy AS (
  SELECT r1.id, r1.pos, r1.val,
         CASE WHEN r1.score >= 90 THEN r1.hebrew END AS hebrew,
         CASE WHEN r1.score >= 90 THEN r1.english END AS english,
         coalesce(r1.score >= 90 AND r1.score < 100 AND r2.s2 >= 90
                  AND (r2.h2 <> r1.hebrew OR r2.e2 <> r1.english), FALSE) AS amb
  FROM r1 LEFT JOIN r2 ON r1.id = r2.id AND r1.pos = r2.pos
), resolved AS (
  SELECT id, pos, val, hebrew, english, FALSE AS amb
  FROM exact WHERE hebrew IS NOT NULL
  UNION ALL
  SELECT id, pos, val, hebrew, english, amb FROM fuzzy
)
SELECT id,
       string_agg(coalesce(hebrew, val), ',' ORDER BY pos) AS field,
       string_agg(coalesce(english, val), ',' ORDER BY pos) AS field__en,
       max(amb) AS ambiguous
FROM resolved GROUP BY id
""",
)
def uqratio_translate_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 at reference parity: UQRatio scorer (i18n.py:107-109) + top-2
    ambiguity capture (i18n.py:110-114), on inputs where UQRatio and the
    levenshtein stand-in DISAGREE. Even keys carry '!!' punctuation dirt —
    full_process strips it so UQRatio scores 100 while normalized
    Levenshtein scores 80 (below any sane cutoff). Odd keys carry a one-char
    append scored against BOTH a base key and an 'xy' variant key: for
    one-digit keys the variant outranks the base 95 vs 94, for two-digit
    keys both round to 95 and the tkey tie-break decides — and since both
    clear cutoff 90 below 100 with different translations, the reference's
    POSSIBLE-BAD-TRANSLATION condition fires, captured as ``ambiguous``.
    The DuckDB oracle computes the same indel ratio with an LCS dynamic
    program in a recursive CTE (row-by-row DP, running-max form) and
    round_even to mirror Python's half-even int rounding."""
    n = _t(spark, sf_dir, "nation")
    inputs = n.select(
        F.col("n_nationkey").alias("id"),
        F.concat(
            F.col("n_name"),
            F.when(F.col("n_nationkey") % 2 == 1, F.lit("x")).otherwise(F.lit("!!")),
            F.lit(",NATION_0"),
        ).alias("field"),
    )
    base_t = n.select(
        F.col("n_name").alias("key"),
        F.col("n_name").alias("hebrew"),
        F.lower("n_name").alias("english"),
    )
    var_t = n.select(
        F.concat("n_name", F.lit("xy")).alias("key"),
        F.concat("n_name", F.lit("XY")).alias("hebrew"),
        F.concat(F.lower("n_name"), F.lit("xy")).alias("english"),
    )
    table = TranslationTable(
        base_t.unionByName(var_t), key="key", translations=("hebrew", "english")
    )
    out = split_and_translate(
        inputs, "field", table, delimiter=",", score_cutoff=90.0,
        suffixes={"": "hebrew", "__en": "english"},
        scorer="uqratio", capture_ambiguity=True,
    )
    return out.select(
        "id",
        F.array_join("field", ",").alias("field"),
        F.array_join("field__en", ",").alias("field__en"),
        F.col("field__ambiguous").alias("ambiguous"),
    )


@register(
    "decimal_pricing_summary",
    sql="""
WITH d AS (
  SELECT l_returnflag,
         CAST(l_quantity AS DECIMAL(12,2)) AS q,
         CAST(l_discount AS DECIMAL(12,2)) AS disc
  FROM lineitem
)
SELECT l_returnflag,
       CAST(CAST(sum(q) AS DECIMAL(38,10)) AS VARCHAR) AS sum_qty_dec,
       CAST(CAST(sum(q * (CAST(1 AS DECIMAL(12,2)) - disc)) AS DECIMAL(38,10))
            AS VARCHAR) AS sum_disc_qty_dec,
       CAST(count(*) AS BIGINT) AS n
FROM d GROUP BY l_returnflag
""",
)
def decimal_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimal-fidelity aggregation (VERDICT r2 ask #7): sums over exact
    DECIMAL values whose double form drifts. The reference computes numbers
    in Python Decimal end-to-end (datasets.py:6,151,158,386); the engine's
    Table-Schema loader maps ``number`` to DecimalType(38,10)
    (schema/table_schema.py:67-69). Here the 0.01-grain discount — NOT
    binary-representable, so a double sum over 60k rows accumulates ulps of
    error (asserted to actually diverge in
    tests/test_operators_core.py::test_decimal_aggregation_discriminates) —
    is cast to DECIMAL(12,2) at the scan and summed exactly in decimal
    arithmetic. Widths are chosen so every intermediate stays exact in BOTH
    engines: (12,2) x (13,2) -> (26,4) product, sum -> (36,4)/(38,4), final
    presentation cast to the loader's DECIMAL(38,10). Map-side combinable
    sum, one shuffle on l_returnflag — q1's scale shape."""
    lineitem = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(12,2)")
    # The decimal arithmetic is the point of the query; the STRING cast at the
    # very end exists only so the external gate's canonicalization of the value
    # is repr-independent (Decimal cells hashed differently per engine in r3
    # despite bit-identical values — VERDICT r3 #2).
    return lineitem.groupBy("l_returnflag").agg(
        F.sum(q).cast("decimal(38,10)").cast("string").alias("sum_qty_dec"),
        F.sum(q * (one - disc))
        .cast("decimal(38,10)")
        .cast("string")
        .alias("sum_disc_qty_dec"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


_PROFILE_BLOCK = """
SELECT '{name}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT {expr}) AS BIGINT) AS n_distinct,
       CAST(min({expr}) AS VARCHAR) AS min_str,
       CAST(max({expr}) AS VARCHAR) AS max_str
FROM src
"""

_PROFILE_COLS = {
    "o_orderkey": "o_orderkey",
    "o_orderstatus": "o_orderstatus",
    "o_orderpriority": "o_orderpriority",
    "o_orderdate_s": "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')",
    "status_nn": "nullif(o_orderstatus, 'O')",
}


def _profile_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate_s"),
        F.when(F.col("o_orderstatus") == "O", F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("status_nn"),
    )


def _profile_hll_block(name: str, expr: str) -> str:
    from ..operators.sketches import hll_by_sql

    hll = hll_by_sql(
        f"CAST({expr} AS VARCHAR)", "1", f"src WHERE ({expr}) IS NOT NULL"
    )
    return f"""
SELECT '{name}' AS col_name, b.n_rows, b.n_null, h.n_distinct_est,
       b.min_str, b.max_str
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
         CAST(min({expr}) AS VARCHAR) AS min_str,
         CAST(max({expr}) AS VARCHAR) AS max_str
  FROM src
) b CROSS JOIN (
  SELECT hll_estimate AS n_distinct_est FROM ({hll})
) h
"""


@register(
    "profile_orders",
    sql=None,  # generated below (needs sketches.hll_by_sql at import time)
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile in its 100 TB-DEFAULT form
    (operators/profile.py::profile_hll): per-column row/null counts, typed
    min/max, and cardinality from the ENGINE-PORTABLE HyperLogLog — the
    benched default per VERDICT r4 #4 (the exact multi-COUNT(DISTINCT) form
    EXPANDs the scan ×(cols+1) and shuffles every distinct value; the sketch
    exchanges ≤ cols×256 register rows). The oracle rebuilds each column's
    sketch from the generated mirror SQL (sketches.hll_by_sql) and must match
    the estimate to 4dp. The exact form stays registered as
    ``profile_orders_exact`` (oracle-gated, excluded from bench)."""
    from ..operators.profile import profile_hll

    return profile_hll(_profile_src(spark, sf_dir)).withColumnRenamed(
        "column", "col_name"
    )


QUERIES["profile_orders"]["sql"] = (
    "WITH src AS (SELECT * FROM orders)\n"
    + "\nUNION ALL\n".join(
        _profile_hll_block(n, e) for n, e in _PROFILE_COLS.items()
    )
)


@register(
    "profile_orders_exact",
    sql="WITH src AS (SELECT * FROM orders)\n"
    + "\nUNION ALL\n".join(
        _PROFILE_BLOCK.format(name=n, expr=e) for n, e in _PROFILE_COLS.items()
    ),
)
def profile_orders_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT profile (operators/profile.py::profile, exact=True): per-
    column row/null/distinct counts and typed min/max — the systematic form
    of the reference's ad-hoc field validation (unused_fields / whitelists /
    percent sanity, SURVEY §2.10). The timestamp is pre-formatted so string
    presentation is engine-exact; ``status_nn`` nullifies the modal status to
    exercise the null accounting. Kept oracle-gated as the semantics
    reference for ``profile_orders``' sketch estimates, but EXCLUDED from
    bench: its multi-COUNT(DISTINCT) EXPAND multiplies the scan ×6 — the
    operator's own docstring says don't run this form at 100 TB."""
    from ..operators.profile import profile

    return profile(_profile_src(spark, sf_dir)).withColumnRenamed(
        "column", "col_name"
    )


@register(
    "asof_join_events_purchase",
    sql="""
WITH p AS (
  SELECT user_id, ts, CAST(max(event_id) AS BIGINT) AS prev_purchase_id,
         round(max(value), 4) AS prev_purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT e.event_id, e.user_id, e.event_type,
       p.prev_purchase_id, p.prev_purchase_value
FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
""",
)
def asof_join_events_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (point-in-time) join: every event enriched with the same user's
    most recent at-or-before purchase (operators/asof.py::asof_join) —
    checked against DuckDB's NATIVE ``ASOF LEFT JOIN``, so the oracle is an
    independent engine's implementation of the semantics, not a re-derivation.
    The union-merge plan shuffles each input ONCE on user_id (sort-merge-join
    asymptotics; no l.ts >= r.ts range-join candidate explosion), which is
    what makes "state as of this event" enrichment viable on 100 TB of
    events. The right side is pre-aggregated unique per (user_id, ts) so the
    matched row is deterministic in both engines; purchases match themselves
    (inclusive at equality) — both engines agree."""
    from ..operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("prev_purchase_id"),
            F.round(F.max("value"), 4).alias("prev_purchase_value"),
        )
    )
    return asof_join(
        ev,
        p,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        fields={
            "prev_purchase_id": "prev_purchase_id",
            "prev_purchase_value": "prev_purchase_value",
        },
    ).select(
        "event_id", "user_id", "event_type", "prev_purchase_id", "prev_purchase_value"
    )


# ---------------------------------------------------------------------------
# Decision-support join-shape coverage: semi join (TPC-H q4's shape), anti
# join (q16/q21's shape), and aggregate-subquery HAVING (q18's shape) — the
# three subquery forms Catalyst compiles to dedicated join strategies.
# ---------------------------------------------------------------------------


@register(
    "semi_join_late_orders",
    sql="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
""",
)
def semi_join_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4's shape: orders having at least one slow lineitem (shipped
    >= 60 days after ordering), counted per priority. The EXISTS compiles to
    a LEFT SEMI sort-merge/shuffled-hash join on o_orderkey — each order
    emitted at most once no matter how many lines qualify, so the join output
    never exceeds the orders side (the property that distinguishes semi from
    inner + distinct, which would shuffle the full match multiplicity)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = o.join(
        li,
        on=(F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        how="left_semi",
    )
    return hit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )


@register(
    "anti_join_clean_suppliers",
    sql="""
SELECT n.n_name AS nation_name, CAST(count(*) AS BIGINT) AS n_suppliers,
       round(sum(s.s_acctbal), 2) AS sum_acctbal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
    AND l.l_discount >= 0.1 AND l.l_quantity > 40
)
GROUP BY n.n_name
""",
)
def anti_join_clean_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16/q21's exclusion shape: suppliers with NO returned lineitem,
    rolled up per nation. NOT EXISTS compiles to LEFT ANTI join — the returns
    side is filtered to 'R' BEFORE the join (predicate under the exchange) and
    only s_suppkey crosses the wire; the nation dim is broadcast. An anti
    join's output is bounded by the probe side and needs no dedup, unlike the
    except/not-in rewrite that materializes both key sets."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_discount") >= 0.1)
            & (F.col("l_quantity") > 40)
        )
        .select("l_suppkey")
    )
    clean = s.join(returned, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
    return (
        clean.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@register(
    "having_big_spenders",
    sql="""
WITH totals AS (
  SELECT o_custkey, sum(o_totalprice) AS spend,
         CAST(count(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY o_custkey
  HAVING sum(o_totalprice) > 3000000
)
SELECT c.c_custkey, c.c_mktsegment, round(t.spend, 2) AS spend, t.n_orders
FROM totals t JOIN customer c ON t.o_custkey = c.c_custkey
""",
)
def having_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18's shape: per-customer order totals filtered by a HAVING
    threshold, then enriched from the customer dim. The aggregate is map-side
    combinable and the HAVING filter runs on the aggregated (customer-sized)
    frame before the join, so the join probe side is only the qualifying
    customers — at 100 TB the threshold cuts the enrich join input by orders
    of magnitude, which is why the filter must sit between agg and join, not
    after the join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    totals = (
        o.groupBy("o_custkey")
        .agg(
            F.sum("o_totalprice").alias("__spend"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .filter(F.col("__spend") > 3000000)
    )
    return totals.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_custkey",
        "c_mktsegment",
        F.round("__spend", 2).alias("spend"),
        "n_orders",
    )


@register(
    "grouping_sets_orders",
    sql="""
SELECT coalesce(o_orderstatus, '(all)') AS status,
       coalesce(o_orderpriority, '(all)') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT)
         AS gid,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — unlike CUBE (cube_orders_status_priority),
    the set list is hand-picked: per-status, per-priority, and grand total,
    WITHOUT the (status, priority) cross. One Expand node feeding a single
    shuffle (3x row expansion instead of the cube's 4x), with GROUPING()
    bits exposed as the subtotal discriminator — the unambiguous marker the
    cube query's docstring defers to (a coalesced '(all)' cannot distinguish
    a real NULL group from a subtotal row; gid can)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            (
                F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
            )
            .cast("long")
            .alias("gid"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "gid",
            "n_orders",
            "total_price",
        )
    )


@register(
    "scalar_subquery_small_parts",
    sql="""
SELECT l.l_partkey AS partkey,
       CAST(count(*) AS BIGINT) AS n_small_lines,
       round(sum(l.l_extendedprice), 2) AS small_revenue
FROM lineitem l
WHERE l.l_quantity < 0.5 * (
  SELECT avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
)
GROUP BY l.l_partkey
""",
)
def scalar_subquery_small_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17's correlated-scalar-subquery shape: lineitems whose quantity
    is under half their part's average. The correlated aggregate decorrelates
    to one per-part aggregate joined back to the fact scan — expressed here
    directly in that decorrelated form (aggregate once, join once) rather
    than per-row re-aggregation; the oracle states the correlated form and
    DuckDB performs the same decorrelation, so both engines run the plan the
    subquery MEANS. The per-part average frame is fact-key-sized, so the
    join shuffles on l_partkey — co-partitioned with the aggregate that
    produced it, which AQE reuses instead of re-exchanging."""
    li = _t(spark, sf_dir, "lineitem")
    avgs = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.avg("l_quantity").alias("__avg_qty")
    )
    return (
        li.join(avgs, F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("__avg_qty"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_small_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_revenue"),
        )
    )


@register(
    "null_safe_join_orders",
    sql="""
WITH o AS (
  SELECT o_orderkey,
         CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderstatus END AS st
  FROM orders
),
d AS (
  SELECT st, CAST(count(*) AS BIGINT) AS n_in_class
  FROM o GROUP BY st
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       coalesce(d.st, '(open)') AS status_class,
       max(d.n_in_class) AS class_size
FROM o JOIN d ON o.st IS NOT DISTINCT FROM d.st
GROUP BY d.st
""",
)
def null_safe_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): the status column is
    nullified for open orders, then joined back to its own class sizes
    treating NULL as a JOINABLE key value — a plain equality join would
    silently drop every NULL row (NULL = NULL is NULL), the classic
    disappearing-rows bug in CDC/SCD keys. Catalyst plans <=> as a regular
    hash-join key (EqualNullSafe is an equi-join expression), so this costs
    the same as the unsafe join rather than degenerating to a nested loop."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("st"),
    )
    d = o.groupBy(F.col("st").alias("__dst")).agg(
        F.count(F.lit(1)).cast("long").alias("n_in_class")
    )
    return (
        o.join(d, F.col("st").eqNullSafe(F.col("__dst")))
        .groupBy("__dst")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.max("n_in_class").alias("class_size"),
        )
        .select(
            "n_orders",
            F.coalesce("__dst", F.lit("(open)")).alias("status_class"),
            "class_size",
        )
    )


@register(
    "market_share_snowflake",
    sql="""
WITH j AS (
  SELECT r.r_name, EXTRACT(year FROM o.o_orderdate) AS yr,
         CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS q,
         p.p_brand = 'Brand#4' AS is_brand
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  JOIN part p     ON l.l_partkey = p.p_partkey
  JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
), g AS (
  SELECT r_name, yr,
         sum(CASE WHEN is_brand THEN q END) AS bq,
         sum(q) AS tq
  FROM j GROUP BY r_name, yr
)
SELECT r_name AS region_name, CAST(yr AS BIGINT) AS order_year,
       CASE WHEN bq IS NOT NULL THEN
         CAST((2 * bq + 100) // 200 AS BIGINT) / CAST(100 AS DOUBLE)
       END AS brand_revenue,
       CAST((2 * tq + 100) // 200 AS BIGINT) / CAST(100 AS DOUBLE)
         AS total_revenue,
       CAST((2 * 10000 * coalesce(bq, 0) + tq) // (2 * tq) AS BIGINT)
         / CAST(10000 AS DOUBLE) AS brand_share
FROM g
""",
)
def market_share_snowflake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8's market-share shape: a 7-table snowflake
    (lineitem-orders-customer-nation-region, plus part and supplier on the
    fact side) rolled up to brand revenue share per region-year — the widest
    join plan in the registry. Join-order discipline at 100 TB: the two fact
    tables (lineitem, orders) shuffle-join on orderkey ONCE; every
    dimension — customer included at TPC-H's 1:10 fact ratio only when it
    fits, else it's the second shuffle — reaches the plan as a broadcast,
    so the fact rows are never exchanged more than the unavoidable
    orderkey/custkey hops. Catalyst reorders the inner joins by size
    estimates; the explicit broadcasts pin the dims so a bad stats estimate
    can't demote them to shuffles.

    Exact-integer money (PARITY r13 sf1): at sf1 the per-group revenue sums
    cross 1e10, where double accumulation diverges between engines at the
    rounded 2dp ULP (the documented "money-scale aggregates" class). Revenue
    is quantized ONCE per row to an exact integer in 1e-4-dollar units
    (round(price*100) * (100 - round(discount*100)) — both factors are the
    proven cents-quantization), summed in DECIMAL(38,0), and both the 2dp
    revenue surfaces and the 4dp share are emitted by half-up integer
    division (non-negative numerators, so DuckDB's truncating // == floor)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    sp = _t(spark, sf_dir, "supplier")
    dec = "decimal(38,0)"
    q = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    ).cast(dec)
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sp), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    g = joined.groupBy(
        F.col("r_name").alias("region_name"),
        F.year("o_orderdate").cast("long").alias("order_year"),
    ).agg(
        F.sum(F.when(F.col("p_brand") == "Brand#4", q)).alias("bq"),
        F.sum(q).alias("tq"),
    )

    def half_up(num: "F.Column", den: "F.Column") -> "F.Column":
        return ((num - F.pmod(num, den)) / den).cast("long")

    two = F.lit(2).cast(dec)
    cents_b = half_up(two * F.col("bq") + 100, F.lit(200).cast(dec))
    cents_t = half_up(two * F.col("tq") + 100, F.lit(200).cast(dec))
    share_bp = half_up(
        two * F.lit(10000).cast(dec) * F.coalesce(F.col("bq"), F.lit(0).cast(dec))
        + F.col("tq"),
        two * F.col("tq"),
    )
    return g.select(
        "region_name",
        "order_year",
        F.when(F.col("bq").isNotNull(), cents_b / F.lit(100.0)).alias(
            "brand_revenue"
        ),
        (cents_t / F.lit(100.0)).alias("total_revenue"),
        (share_bp / F.lit(10000.0)).alias("brand_share"),
    )


@register(
    "incremental_agg_orders",
    sql="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_orderstatus
""",
)
def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-status totals are NOT computed
    by rescanning the full table — a 90% "base snapshot" is aggregated once
    (standing for yesterday's materialized aggregate), the 10% "delta batch"
    is aggregated alone, and the two PARTIAL states merge algebraically
    (count+count, sum+sum, max of maxes). The oracle computes the full-scan
    answer, so the gate proves merge(base_agg, delta_agg) == agg(base+delta)
    — the algebra that lets a 100 TB nightly pipeline maintain aggregates by
    touching only the day's delta. avg is deliberately derived from
    (sum, count) AFTER the merge: avg itself is not algebraic."""
    o = _t(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 != 0)
    delta = o.filter(F.col("o_orderkey") % 10 == 0)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
            F.max("o_totalprice").alias("max_price"),
        )

    merged = (
        partial(base)
        .unionByName(partial(delta))
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.round(F.sum("total_price"), 2).alias("total_price"),
            F.round(F.max("max_price"), 2).alias("max_price"),
        )
    )
    return merged


@register(
    "key_distribution_events",
    sql="""
WITH counts AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM counts)
SELECT user_id, n, round(n / CAST(t AS DOUBLE), 6) AS share
FROM counts CROSS JOIN tot
ORDER BY n DESC, user_id
LIMIT 10
""",
)
def key_distribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew pre-flight (operators/scale.py::key_distribution) as a gate
    query: top-10 hottest join/agg keys with their share of total rows —
    what you read before choosing salting or AQE skew hints. The total is a
    broadcast 1-row cross join, NOT an empty-partitionBy window (that form
    funnels all keys through one SinglePartition exchange); the top-10 is a
    TakeOrdered, never a global sort. Count ties at the cut are broken by
    key so the answer is partition-order-independent."""
    from ..operators.scale import key_distribution

    e = _t(spark, sf_dir, "events")
    return key_distribution(e, ["user_id"], top=10)


@register(
    "customer_order_distribution",
    sql="""
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
FROM per_cust GROUP BY n_orders
""",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13's shape: the histogram of join fan-out — orders-per-customer
    counted through a LEFT OUTER join so zero-order customers keep a bucket
    (count(o_orderkey) skips the null from the preserved side; count(*)
    would wrongly give them 1). Two aggregations: the first shuffles on
    custkey (or rides the join's own exchange), the second is a tiny
    histogram over customer-cardinality rows. The outer join is the load-
    bearing choice: an inner join silently deletes the zero bucket, the
    classic fan-out-analysis bug."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )


@register(
    "top_supplier_revenue",
    sql="""
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
""",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15's shape: the supplier(s) achieving MAX aggregated revenue,
    ties included — a scalar aggregate over an aggregate, NOT a top-1 limit
    (LIMIT 1 drops tied winners nondeterministically; the = max() predicate
    keeps them all, which is why q15 is specified this way). The revenue
    frame is supplier-cardinality, so the max is a 1-row broadcast cross
    join against it and the winner join touches the supplier dim once.
    Revenue is rounded BEFORE the max comparison on both sides so the
    equality predicate compares identical doubles."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = F.broadcast(rev.agg(F.max("total_revenue").alias("__mx")))
    return (
        rev.join(mx)
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "observed_pipeline_metrics",
    sql="""
SELECT CAST(count(*) AS BIGINT) AS rows_in,
       CAST(count(*) FILTER (l_discount >= 0.05) AS BIGINT) AS rows_kept,
       round(sum(l_extendedprice) FILTER (l_discount >= 0.05), 2) AS kept_price
FROM lineitem
""",
)
def observed_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via Spark's Observation API: rows-in /
    rows-kept / kept-value metrics collected as a SIDE CHANNEL of one real
    filter pass — the engine-native form of the reference's per-stage
    datapackage fingerprints ({count_of_rows, bytes, hash} per dumped
    resource, QUICKSTART.md:312-315). ``observe`` attaches accumulator-
    backed aggregates to the plan, so the metrics cost nothing beyond the
    pass that runs anyway and arrive exact (unlike sampled listener
    metrics); at 100 TB this is how a curation pipeline reports
    rows-dropped-per-rule without a second scan. The observed values are
    driver-side BY DESIGN (a handful of scalars) and returned as the
    1-row result."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem")
    obs_in = Observation("in")
    obs_kept = Observation("kept")
    passed = (
        li.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
        .filter(F.col("l_discount") >= 0.05)
        .observe(
            obs_kept,
            F.count(F.lit(1)).alias("rows_kept"),
            F.round(F.sum("l_extendedprice"), 2).alias("kept_price"),
        )
    )
    passed.write.format("noop").mode("overwrite").save()  # the real pass
    row = {**obs_in.get, **obs_kept.get}
    return local_df(
        spark,
        [
            (
                int(row["rows_in"]),
                int(row["rows_kept"]),
                float(row["kept_price"]),
            )
        ],
        "rows_in long, rows_kept long, kept_price double",
    )


@register(
    "date_spine_gap_fill_events",
    sql="""
WITH bounds AS (
  SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi FROM events
),
spine AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
  FROM bounds
),
daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 2) AS total_value
  FROM events GROUP BY 1
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       coalesce(d.n_events, 0) AS n_events,
       coalesce(d.total_value, 0.0) AS total_value
FROM spine s LEFT JOIN daily d ON s.day = d.day
""",
)
def date_spine_gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap filling: daily event rollups where days with NO
    events still appear as zero rows — the complement of forward_fill
    (which fills VALUES inside existing rows; this materializes the missing
    ROWS, which time-series charts/joins downstream require). The spine is
    sequence() over the observed [min, max] date bounds exploded from ONE
    1-row aggregate — never a driver-side date loop — and the daily
    aggregate left-joins onto it. At 100 TB the spine is still only
    date-cardinality rows, so it broadcasts; the fact-side work is one
    map-side-combinable daily aggregate."""
    e = _t(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "ohlc_events_hourly",
    sql="""
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       round(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || ':' || lpad(CAST(event_id AS VARCHAR), 12, '0')),
             4) AS open,
       round(max(value), 4) AS high,
       round(min(value), 4) AS low,
       round(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || ':' || lpad(CAST(event_id AS VARCHAR), 12, '0')),
             4) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type, date_trunc('hour', ts)
""",
)
def ohlc_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC (candlestick) rollup: per type-hour, the FIRST and LAST value in
    event order plus extremes — the first/last-by-order aggregation family
    (min_by/max_by over a (ts, event_id) ordering struct, deterministic
    under concurrent timestamps via the id tie-break). min_by/max_by are
    true aggregates: map-side combinable, one shuffle — where the window
    formulation (first_value over an ordered partition) would sort every
    group. The reference's stream-order semantics (__ord convention) is the
    same idea; here the order key is explicit event time."""
    e = _t(spark, sf_dir, "events")
    # composite order key as a zero-padded string (lexicographic == numeric):
    # DuckDB's arg_min/arg_max take no struct ordering key, so the portable
    # encoding is the cross-engine contract
    okey = F.concat(
        F.lpad(F.unix_micros(F.col("ts").cast("timestamp")).cast("string"), 20, "0"),
        F.lit(":"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
        )
        .agg(
            F.round(F.min_by("value", okey), 4).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.round(F.max_by("value", okey), 4).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )


@register(
    "event_transitions_users",
    sql="""
WITH ordered AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
),
t AS (
  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS out_n FROM t GROUP BY prev_type)
SELECT t.prev_type, t.next_type, t.n,
       round(t.n / CAST(tot.out_n AS DOUBLE), 4) AS p_transition
FROM t JOIN tot ON t.prev_type = tot.prev_type
""",
)
def event_transitions_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    lag() within (user, event-time order, id tie-break) pairs each event
    with its predecessor, then transition counts and row-normalized
    probabilities — the sequence-analysis primitive behind funnel
    diagnosis and next-event prediction features. One window shuffle on
    user_id (sequences are per-user by definition), then type-cardinality
    aggregates; the row normalizer joins on the tiny prev_type key."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = ordered.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = t.groupBy(F.col("prev_type").alias("__pt")).agg(
        F.sum("n").cast("long").alias("out_n")
    )
    return (
        t.join(F.broadcast(tot), F.col("prev_type") == F.col("__pt"))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("out_n"), 4).alias("p_transition"),
        )
    )


@register(
    "relational_division_suppliers",
    sql="""
WITH target AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'
  ORDER BY p_size DESC, p_partkey LIMIT 3
),
cov AS (
  SELECT l.l_suppkey, count(DISTINCT l.l_partkey) AS n_covered
  FROM lineitem l JOIN target t ON l.l_partkey = t.p_partkey
  GROUP BY l.l_suppkey
)
SELECT c.l_suppkey AS suppkey, s.s_name,
       CAST(c.n_covered AS BIGINT) AS n_covered
FROM cov c JOIN supplier s ON c.l_suppkey = s.s_suppkey
WHERE c.n_covered = (SELECT count(*) FROM target)
""",
)
def relational_division_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("FOR ALL"): suppliers who have shipped EVERY one
    of the brand's three largest parts — the universal-quantification shape
    SQL has no operator for, expressed the standard way: restrict the fact
    scan to the target set (broadcast — it is 3 rows), count DISTINCT
    covered targets per supplier, and keep those matching the target
    cardinality (a 1-row broadcast scalar). Division via double-negative
    NOT EXISTS is equivalent but makes two anti joins; the count-match form
    is one aggregate over the restricted scan — the shape that survives a
    fact table of any size."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    target = (
        part.filter(F.col("p_brand") == "Brand#4")
        .orderBy(F.desc("p_size"), F.asc("p_partkey"))
        .limit(3)
        .select("p_partkey")
    )
    n_target = F.broadcast(target.agg(F.count(F.lit(1)).alias("__nt")))
    cov = (
        li.join(F.broadcast(target), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.count_distinct("l_partkey").cast("long").alias("n_covered"))
    )
    return (
        cov.join(n_target)
        .filter(F.col("n_covered") == F.col("__nt"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            "s_name",
            "n_covered",
        )
    )


@register(
    "pareto_revenue_customers",
    sql="""
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS s FROM orders GROUP BY o_custkey
),
tot AS (SELECT sum(s) AS t, CAST(count(*) AS BIGINT) AS n_customers FROM spend),
ranked AS (
  SELECT s, row_number() OVER (ORDER BY s DESC, o_custkey) AS rk,
         sum(s) OVER (ORDER BY s DESC, o_custkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM spend
)
SELECT CAST(min(rk) AS BIGINT) AS customers_for_80pct,
       (SELECT n_customers FROM tot) AS n_customers,
       round(CAST(min(rk) AS DOUBLE) / (SELECT n_customers FROM tot), 4)
         AS customer_frac
FROM ranked WHERE cum >= 0.8 * (SELECT t FROM tot)
""",
)
def pareto_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 report): how many top customers —
    ranked by spend with a custkey tie-break — account for 80% of total
    revenue. The rank and running sum come from running_totals: one
    window over the per-customer spend frame in (spend desc, custkey)
    order."""
    from ..operators.windows import running_totals

    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    tot = F.broadcast(
        spend.agg(
            F.sum("s").alias("__t"),
            F.count(F.lit(1)).cast("long").alias("n_customers"),
        )
    )
    ranked = (
        running_totals(
            spend,
            "s",
            order_by=[("s", "desc"), ("o_custkey", "asc")],
            cum_col="cum",
            rank_col="rk",
        )
        .crossJoin(tot)
        .filter(F.col("cum") >= 0.8 * F.col("__t"))
    )
    return ranked.agg(
        F.min("rk").cast("long").alias("customers_for_80pct"),
        F.first("n_customers").alias("n_customers"),
        F.round(
            F.min("rk").cast("double") / F.first("n_customers"), 4
        ).alias("customer_frac"),
    )


@register(
    "cohort_ltv_orders",
    sql="""
WITH firsts AS (
  SELECT o_custkey,
         min(date_trunc('month', o_orderdate)) AS cohort_month
  FROM orders GROUP BY o_custkey
),
facts AS (
  SELECT f.cohort_month,
         (EXTRACT(year FROM o.o_orderdate) - EXTRACT(year FROM f.cohort_month)) * 12
           + (EXTRACT(month FROM o.o_orderdate) - EXTRACT(month FROM f.cohort_month))
           AS months_since,
         o.o_totalprice AS price, o.o_custkey
  FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
)
SELECT strftime(cohort_month, '%Y-%m') AS cohort_month,
       CAST(months_since AS BIGINT) AS months_since,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_active_customers,
       round(sum(price), 2) AS revenue
FROM facts GROUP BY cohort_month, months_since
""",
)
def cohort_ltv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-cohort LTV matrix: customers bucketed by first-order month,
    revenue and active-customer counts laid out by months-since-acquisition
    — the orders-side companion to the events-side retention_cohorts query
    (same triangular matrix, revenue instead of presence). The first-order
    aggregate is customer-sized and joins back to the fact scan on custkey
    (co-partitioned with the aggregate that produced it); everything else
    is one cohort-cell-sized group-by with an exact distinct."""
    o = _t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    joined = o.join(firsts, "o_custkey")
    months_since = (
        (F.year("o_orderdate") - F.year("cohort_month")) * 12
        + (F.month("o_orderdate") - F.month("cohort_month"))
    ).cast("long")
    return (
        joined.groupBy(
            F.date_format("cohort_month", "yyyy-MM").alias("cohort_month"),
            months_since.alias("months_since"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count_distinct("o_custkey").cast("long").alias("n_active_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry in stable insertion order. Reproducible across
    environments by design: iteration order depends only on module
    source, never on repo-root state (ADVICE r8 removed the per-round
    salt — any sampling strategy belongs to the evaluation harness,
    not the library)."""
    return {name: spec["fn"] for name, spec in QUERIES.items()}


def oracle_sqls() -> dict[str, str]:
    return {
        name: spec["sql"] for name, spec in QUERIES.items() if spec["sql"]
    }
