"""Table profiling: per-column quality stats in ONE scan.

The reference refines inferred schemas progressively and validates fields ad
hoc (SURVEY §1.3, §2.10 X4/X5 — unused_fields, whitelists, percent sanity);
this operator is the systematic form: for every column, row/null/distinct
counts and min/max, the report that drives schema refinement, whitelist
construction, and drift detection between pipeline runs.

Scale notes: one aggregation pass over the scan — no joins, no per-column
jobs. With ``exact=True`` the multiple COUNT(DISTINCT) rewrite goes through
Spark's EXPAND (rows duplicated once per distinct-agg — exact but data-volume
multiplying); at 100 TB call with ``exact=False`` to use
``approx_count_distinct`` (HyperLogLog, one pass, no expand) — the report is
diagnostic, ±2% cardinality is fine. Measured at sf0.1 (150k orders rows, 5
columns): exact 3.4s vs approx 0.8s steady-state — the EXPAND multiple is
real, and it grows with data volume. min/max are computed in the column's own
type and cast to string only for presentation, so numeric/date ordering is
preserved (a lexicographic min of stringified numbers would be wrong).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..session import local_df


def profile(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
) -> DataFrame:
    """One row per profiled column:
    (column, n_rows, n_null, n_distinct, min_str, max_str).

    ``n_distinct`` counts non-null distinct values (exact or HLL-approx per
    ``exact``); min/max are typed aggregates presented as strings.
    """
    cols = columns or df.columns
    distinct = F.count_distinct if exact else F.approx_count_distinct
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs.append(
            F.struct(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(col.isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null"),
                distinct(col).cast("long").alias("n_distinct"),
                F.min(col).cast("string").alias("min_str"),
                F.max(col).cast("string").alias("max_str"),
            ).alias(f"__p_{c}")
        )
    one = df.agg(*aggs)
    stack = (
        f"stack({len(cols)}, "
        + ", ".join(f"'{c}', `__p_{c}`" for c in cols)
        + ") as (column, p)"
    )
    return one.selectExpr(stack).select("column", "p.*")


def profile_hll(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """The 100 TB profile: per-column row/null counts and typed min/max in
    ONE aggregation pass (no EXPAND), with cardinality from the repo's
    ENGINE-PORTABLE HyperLogLog (operators/sketches.py) instead of exact
    COUNT(DISTINCT) — so the report stays oracle-checkable (unlike Spark's
    internal approx_count_distinct) while the shuffle carries at most
    ``columns × 256`` register rows after map-side max-combining, instead of
    every distinct value of every column.

    Output: (column, n_rows, n_null, n_distinct_est, min_str, max_str);
    ``n_distinct_est`` is the 4dp HLL estimate over non-null values,
    reproducible in any engine from the generated mirror SQL
    (sketches.hll_by_sql). The base stats reuse ``profile``'s single-pass
    struct aggregation; the unpivot feeding the sketch multiplies rows only
    map-side — its exchange is register-sized.
    """
    from .sketches import hll_distinct_by

    cols = columns or df.columns
    # base stats without the distinct agg: one pass, typed min/max
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs.append(
            F.struct(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(col.isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null"),
                F.min(col).cast("string").alias("min_str"),
                F.max(col).cast("string").alias("max_str"),
            ).alias(f"__p_{c}")
        )
    one = df.agg(*aggs)
    stack = (
        f"stack({len(cols)}, "
        + ", ".join(f"'{c}', `__p_{c}`" for c in cols)
        + ") as (column, p)"
    )
    stats = one.selectExpr(stack).select("column", "p.*")

    # (column, value) unpivot of non-null values -> grouped portable HLL
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.column", "p.v").filter(F.col("v").isNotNull())
    est = hll_distinct_by(pairs, ["column"], "v").select(
        "column", F.col("hll_estimate").alias("n_distinct_est")
    )
    return stats.join(F.broadcast(est), "column", "left").select(
        "column", "n_rows", "n_null", "n_distinct_est", "min_str", "max_str"
    )


__all__ = ["profile", "profile_hll"]



def psi_drift(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    min_count: int = 0,
) -> DataFrame:
    """Population Stability Index between two snapshots of a categorical
    distribution — the standard drift monitor for a corpus/feature mix
    (did the lang x source composition of this week's crawl shift against
    the reference snapshot?):

        PSI = sum over buckets of (p_a - p_b) * ln(p_a / p_b)

    with add-one smoothing over the UNION of observed buckets (so a
    bucket present in only one side contributes a finite, positive term
    instead of an infinity). Rule of thumb: < 0.1 stable, 0.1-0.25
    drifting, > 0.25 shifted.

    Returns one row per bucket (key..., count_a, count_b, psi_term[6dp])
    plus the rolled-up total under ``__total__`` keys — per-bucket terms
    are the actionable part (WHICH slice drifted), the total is the alarm
    threshold. All counts are exact integers; p_a/p_b are exact rationals
    of two 1-row totals; only the final ln is float, rounded for the
    contract surface.

    Shape at scale: two map-side-combinable count aggregates (bucket-
    cardinality sized), an outer join on the bucket key, two broadcast
    1-row totals — one scan per snapshot, no sorts. ``min_count`` drops
    buckets below a support floor on BOTH sides (noise control for
    long-tail keys).
    """
    from ..operators.caching import scoped_persist

    def counts(df, name):
        return df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    ca = counts(a, "count_a")
    cb = counts(b, "count_b")
    j = scoped_persist(
        ca.join(cb, key_cols, "full_outer")
        .select(
            *key_cols,
            F.coalesce("count_a", F.lit(0)).alias("count_a"),
            F.coalesce("count_b", F.lit(0)).alias("count_b"),
        )
        .where(
            (F.col("count_a") >= min_count) | (F.col("count_b") >= min_count)
        )
    )
    tot = j.agg(
        F.sum("count_a").alias("ta"),
        F.sum("count_b").alias("tb"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    w = j.crossJoin(F.broadcast(tot))
    pa = (F.col("count_a") + 1) / (F.col("ta") + F.col("nb"))
    pb = (F.col("count_b") + 1) / (F.col("tb") + F.col("nb"))
    terms = w.select(
        *key_cols,
        "count_a",
        "count_b",
        F.round((pa - pb) * F.log(pa / pb), 6).alias("psi_term"),
    )
    total = (
        w.agg(
            F.sum("count_a").alias("count_a"),
            F.sum("count_b").alias("count_b"),
            F.round(F.sum((pa - pb) * F.log(pa / pb)), 6).alias("psi_term"),
        )
        .select(
            *[F.lit("__total__").alias(c) for c in key_cols],
            "count_a",
            "count_b",
            "psi_term",
        )
    )
    return terms.unionByName(total)


def psi_drift_sql(
    from_a: str, from_b: str, keys: list[str], min_count: int = 0
) -> str:
    """DuckDB mirror of ``psi_drift`` — same smoothing, same union-of-
    buckets outer join, same rounded term surface. ``keys`` are bucket
    column names present in both sources (the engine's key_cols)."""
    ks = ", ".join(keys)
    coal = " AND ".join(f"a.{k} IS NOT DISTINCT FROM b.{k}" for k in keys)
    pick = ", ".join(f"coalesce(a.{k}, b.{k}) AS {k}" for k in keys)
    totkeys = ", ".join(f"'__total__' AS {k}" for k in keys)
    return f"""
WITH ca AS (SELECT {ks}, CAST(count(*) AS BIGINT) AS count_a
            FROM {from_a} GROUP BY {ks}),
cb AS (SELECT {ks}, CAST(count(*) AS BIGINT) AS count_b
       FROM {from_b} GROUP BY {ks}),
j AS (
  SELECT {pick},
         coalesce(a.count_a, 0) AS count_a,
         coalesce(b.count_b, 0) AS count_b
  FROM ca a FULL OUTER JOIN cb b ON {coal}
  WHERE coalesce(a.count_a, 0) >= {min_count}
     OR coalesce(b.count_b, 0) >= {min_count}
),
tot AS (SELECT CAST(sum(count_a) AS BIGINT) AS ta,
               CAST(sum(count_b) AS BIGINT) AS tb,
               CAST(count(*) AS BIGINT) AS nb FROM j),
t AS (
  SELECT {ks}, count_a, count_b,
         ((count_a + 1) / CAST(ta + nb AS DOUBLE)
          - (count_b + 1) / CAST(tb + nb AS DOUBLE))
         * ln(((count_a + 1) / CAST(ta + nb AS DOUBLE))
              / ((count_b + 1) / CAST(tb + nb AS DOUBLE))) AS term
  FROM j CROSS JOIN tot
)
SELECT {ks}, count_a, count_b, round(term, 6) AS psi_term FROM t
UNION ALL
SELECT {totkeys}, CAST(sum(count_a) AS BIGINT), CAST(sum(count_b) AS BIGINT),
       round(sum(term), 6)
FROM t
"""



def psi_drift_by(
    ref_counts: DataFrame,
    cur_counts: DataFrame,
    group_cols: list[str],
    key_cols: list[str],
) -> DataFrame:
    """Per-GROUP PSI against one reference distribution — the monitoring
    form of ``psi_drift``: ``ref_counts`` is (key..., count_a) for the
    reference mix, ``cur_counts`` is (group..., key..., count_b) with one
    distribution per group (an hour window, a crawl snapshot, a source
    shard). Callers aggregate however they like — a batch groupBy or a
    drained streaming window agg both fit (this is the foreachBatch shape
    of a production drift monitor).

    Bucket union per group: every reference bucket appears in every group
    (cross join with the broadcast reference — bounded: groups x ref
    buckets), plus the group's own extra buckets via the outer join; the
    same add-one smoothing as ``psi_drift`` keeps one-sided buckets
    finite. Output: per (group..., key...) rows with (count_a, count_b,
    psi_term[6dp]) plus one __total__ row per group. The reference total
    is the same for every group; the smoothing bucket count nb varies
    with the group's union size — exactly what per-group PSI means.
    """
    from ..operators.caching import scoped_persist

    groups = cur_counts.select(*group_cols).distinct()
    base = groups.crossJoin(F.broadcast(ref_counts))
    # the outer join's right side derives from the same frame as ``groups``
    # (a self-join): rename its columns so the join resolves on distinct
    # names (the join_self convention) instead of conflicting references
    cols = [*group_cols, *key_cols]
    cur2 = cur_counts.select(
        *[F.col(c).alias(f"__c_{c}") for c in cols],
        F.col("count_b").alias("__count_b"),
    )
    cond = None
    for c in cols:
        e = base[c].eqNullSafe(cur2[f"__c_{c}"])
        cond = e if cond is None else (cond & e)
    j = scoped_persist(
        base.join(cur2, cond, "full_outer").select(
            *[
                F.coalesce(base[c], cur2[f"__c_{c}"]).alias(c)
                for c in cols
            ],
            F.coalesce("count_a", F.lit(0)).alias("count_a"),
            F.coalesce("__count_b", F.lit(0)).alias("count_b"),
        )
    )
    tot = j.groupBy(*group_cols).agg(
        F.sum("count_a").alias("ta"),
        F.sum("count_b").alias("tb"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    w = j.join(F.broadcast(tot), group_cols)
    pa = (F.col("count_a") + 1) / (F.col("ta") + F.col("nb"))
    pb = (F.col("count_b") + 1) / (F.col("tb") + F.col("nb"))
    term = (pa - pb) * F.log(pa / pb)
    rows = w.select(
        *group_cols, *key_cols, "count_a", "count_b",
        F.round(term, 6).alias("psi_term"),
    )
    totals = (
        w.groupBy(*group_cols)
        .agg(
            F.sum("count_a").alias("count_a"),
            F.sum("count_b").alias("count_b"),
            F.round(F.sum(term), 6).alias("psi_term"),
        )
        .select(
            *group_cols,
            *[F.lit("__total__").alias(k) for k in key_cols],
            "count_a",
            "count_b",
            "psi_term",
        )
    )
    return rows.unionByName(totals)


def psi_drift_by_sql(
    ref_counts_sql: str,
    cur_counts_sql: str,
    group_cols: list[str],
    key_cols: list[str],
) -> str:
    """DuckDB mirror of ``psi_drift_by``: ``ref_counts_sql`` must yield
    (key..., count_a), ``cur_counts_sql`` (group..., key..., count_b)."""
    g = ", ".join(group_cols)
    k = ", ".join(key_cols)
    gk = f"{g}, {k}"
    coal_keys = ", ".join(
        f"coalesce(l.{c}, r.{c}) AS {c}" for c in [*group_cols, *key_cols]
    )
    on = " AND ".join(
        f"l.{c} IS NOT DISTINCT FROM r.{c}" for c in [*group_cols, *key_cols]
    )
    totkeys = ", ".join(f"'__total__' AS {c}" for c in key_cols)
    return f"""
WITH ref AS ({ref_counts_sql}),
cur AS ({cur_counts_sql}),
base AS (SELECT gsel.*, ref.* FROM (SELECT DISTINCT {g} FROM cur) gsel
         CROSS JOIN ref),
j AS (
  SELECT {coal_keys},
         coalesce(l.count_a, 0) AS count_a,
         coalesce(r.count_b, 0) AS count_b
  FROM base l FULL OUTER JOIN cur r ON {on}
),
tot AS (
  SELECT {g}, CAST(sum(count_a) AS BIGINT) AS ta,
         CAST(sum(count_b) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS nb
  FROM j GROUP BY {g}
),
t AS (
  SELECT j.*, tot.ta, tot.tb, tot.nb,
         ((count_a + 1) / CAST(ta + nb AS DOUBLE)
          - (count_b + 1) / CAST(tb + nb AS DOUBLE))
         * ln(((count_a + 1) / CAST(ta + nb AS DOUBLE))
              / ((count_b + 1) / CAST(tb + nb AS DOUBLE))) AS term
  FROM j JOIN tot USING ({g})
)
SELECT {gk}, count_a, count_b, round(term, 6) AS psi_term FROM t
UNION ALL
SELECT {g}, {totkeys}, CAST(sum(count_a) AS BIGINT),
       CAST(sum(count_b) AS BIGINT), round(sum(term), 6)
FROM t GROUP BY {g}
"""



def mutual_information(df: DataFrame, x: str, y: str) -> DataFrame:
    """Mutual information (and entropies / NMI) between two categorical
    columns — the dependency profile a curation pipeline reads before
    trusting a column as a stratification key (MI(lang, source) ~ 0 means
    the source mix is language-balanced; high NMI flags confounded
    splits).

        MI   = sum_xy p(x,y) ln( p(x,y) / (p(x) p(y)) )
        H(c) = -sum p ln p ;  NMI = MI / sqrt(H(x) H(y))

    Every probability is an exact rational of the joint-count table; the
    ln/sqrt are the float surface, rounded 6dp. One row out:
    (n, mi, h_x, h_y, nmi).

    Shape at scale: ONE (x, y) groupBy over the corpus (map-side
    combinable, joint-cardinality rows); both marginals and the total
    derive from the joint table, so the corpus is scanned once; the term
    sum is a broadcast-joined aggregate over the joint rows.
    """
    from ..operators.caching import scoped_persist

    j = scoped_persist(
        df.groupBy(F.col(x).alias("xv"), F.col(y).alias("yv")).agg(
            F.count(F.lit(1)).cast("long").alias("cxy")
        )
    )
    mx = j.groupBy("xv").agg(F.sum("cxy").alias("cx"))
    my = j.groupBy("yv").agg(F.sum("cxy").alias("cy"))
    tot = j.agg(F.sum("cxy").alias("n"))
    w = (
        j.join(F.broadcast(mx), "xv")
        .join(F.broadcast(my), "yv")
        .crossJoin(F.broadcast(tot))
    )
    # one canonical evaluation order, mirrored verbatim in SQL
    ratio = (F.col("cxy") / F.col("cx")) * (F.col("n") / F.col("cy"))
    mi = F.sum((F.col("cxy") / F.col("n")) * F.log(ratio))
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        F.sum(-(F.col("cx") / F.col("n")) * F.log(F.col("cx") / F.col("n"))).alias(
            "h"
        )
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        F.sum(-(F.col("cy") / F.col("n")) * F.log(F.col("cy") / F.col("n"))).alias(
            "h"
        )
    )
    base = w.agg(
        F.max("n").alias("n"), mi.alias("__mi")
    )
    return (
        base.crossJoin(F.broadcast(hx.select(F.col("h").alias("__hx"))))
        .crossJoin(F.broadcast(hy.select(F.col("h").alias("__hy"))))
        .select(
            F.col("n"),
            F.round("__mi", 6).alias("mi"),
            F.round("__hx", 6).alias("h_x"),
            F.round("__hy", 6).alias("h_y"),
            F.round(
                F.col("__mi") / F.sqrt(F.col("__hx") * F.col("__hy")), 6
            ).alias("nmi"),
        )
    )


def mutual_information_sql(from_sql: str, x: str, y: str) -> str:
    """DuckDB mirror of ``mutual_information`` — identical joint/marginal
    derivation and evaluation order."""
    return f"""
WITH j AS (
  SELECT {x} AS xv, {y} AS yv, CAST(count(*) AS BIGINT) AS cxy
  FROM {from_sql} GROUP BY 1, 2
),
mx AS (SELECT xv, CAST(sum(cxy) AS BIGINT) AS cx FROM j GROUP BY xv),
my AS (SELECT yv, CAST(sum(cxy) AS BIGINT) AS cy FROM j GROUP BY yv),
tot AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM j),
mi AS (
  SELECT sum((cxy / CAST(n AS DOUBLE))
             * ln((cxy / CAST(cx AS DOUBLE)) * (n / CAST(cy AS DOUBLE))))
           AS v
  FROM j JOIN mx USING (xv) JOIN my USING (yv) CROSS JOIN tot
),
hx AS (SELECT sum(-(cx / CAST(n AS DOUBLE)) * ln(cx / CAST(n AS DOUBLE))) AS v
       FROM mx CROSS JOIN tot),
hy AS (SELECT sum(-(cy / CAST(n AS DOUBLE)) * ln(cy / CAST(n AS DOUBLE))) AS v
       FROM my CROSS JOIN tot)
SELECT tot.n, round(mi.v, 6) AS mi, round(hx.v, 6) AS h_x,
       round(hy.v, 6) AS h_y,
       round(mi.v / sqrt(hx.v * hy.v), 6) AS nmi
FROM tot CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""


def js_divergence_by(
    df: DataFrame, group_col: str, token_col: str
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits, symmetric, bounded [0, 1])
    between the token distributions of every unordered pair of groups — the
    corpus-comparison profile a mixing pipeline reads before blending
    sources (JSD ~ 0: interchangeable; ~ 1: disjoint vocabularies; unlike
    KL it is defined when a token appears on one side only).

        JSD(P, Q) = 0.5 * sum_w [ p*log2(2p/(p+q)) + q*log2(2q/(p+q)) ]

    with one-sided terms evaluated only where the count is > 0 (the
    mathematical limit). Every probability is an exact rational of integer
    counts; log2 is the float surface, one canonical evaluation order
    mirrored verbatim in the generated SQL.

    Shape at scale: ONE (group, token) groupBy over the corpus (map-side
    combinable), totals derived from it; the G(G-1)/2 pair frame is
    group-cardinality-sized and broadcast; the per-pair union of vocab rows
    comes from a FULL OUTER join of the pair-tagged count frames on
    (pair, token) — shuffles carry (group, token, count) rows only, never
    text; the term sum is one aggregate per pair."""
    c = df.groupBy(
        F.col(group_col).alias("g"), F.col(token_col).alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    from ..operators.caching import scoped_persist

    c = scoped_persist(c)
    t = c.groupBy("g").agg(F.sum("c").cast("long").alias("n"))
    pairs = (
        t.select(F.col("g").alias("ga"), F.col("n").alias("na"))
        .join(
            t.select(F.col("g").alias("gb"), F.col("n").alias("nb")),
            F.col("ga") < F.col("gb"),
        )
    )
    wa = c.join(
        F.broadcast(pairs), F.col("g") == F.col("ga")
    ).select("ga", "gb", "na", "nb", "w", F.col("c").alias("ca"))
    wb = c.join(
        F.broadcast(pairs), F.col("g") == F.col("gb")
    ).select(
        F.col("ga").alias("gb_a"),
        F.col("gb").alias("gb_b"),
        F.col("w").alias("w_b"),
        F.col("c").alias("cb"),
    )
    full = wa.join(
        wb,
        (F.col("ga") == F.col("gb_a"))
        & (F.col("gb") == F.col("gb_b"))
        & (F.col("w") == F.col("w_b")),
        "full",
    ).select(
        F.coalesce("ga", "gb_a").alias("ga"),
        F.coalesce("gb", "gb_b").alias("gb"),
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    tot = (
        t.select(F.col("g").alias("ga"), F.col("n").alias("na2"))
    )
    tot_b = t.select(F.col("g").alias("gb"), F.col("n").alias("nb2"))
    full = full.join(F.broadcast(tot), "ga").join(F.broadcast(tot_b), "gb")
    p = F.col("ca") / F.col("na2")
    q = F.col("cb") / F.col("nb2")
    term = F.when(
        F.col("ca") > 0, p * F.log2(F.lit(2.0) * p / (p + q))
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("cb") > 0, q * F.log2(F.lit(2.0) * q / (p + q))
    ).otherwise(F.lit(0.0))
    return (
        full.groupBy("ga", "gb")
        .agg(
            F.max("na2").cast("long").alias("n_a"),
            F.max("nb2").cast("long").alias("n_b"),
            F.round(F.lit(0.5) * F.sum(term), 6).alias("jsd_bits"),
        )
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            "jsd_bits",
        )
    )


def js_divergence_by_sql(
    rows_sql: str, group_expr: str = "g", token_expr: str = "w"
) -> str:
    """Generated DuckDB mirror of ``js_divergence_by`` — same counts, same
    pair algebra, same canonical term order."""
    return f"""
WITH rows_in AS ({rows_sql}),
c AS (SELECT {group_expr} AS g, {token_expr} AS w, count(*) AS c
      FROM rows_in GROUP BY 1, 2),
t AS (SELECT g, sum(c) AS n FROM c GROUP BY g),
pairs AS (
  SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
  FROM t a JOIN t b ON a.g < b.g
),
wa AS (SELECT p.ga, p.gb, c.w, c.c AS ca
       FROM c JOIN pairs p ON c.g = p.ga),
wb AS (SELECT p.ga, p.gb, c.w, c.c AS cb
       FROM c JOIN pairs p ON c.g = p.gb),
full_w AS (
  SELECT coalesce(wa.ga, wb.ga) AS ga, coalesce(wa.gb, wb.gb) AS gb,
         coalesce(wa.ca, 0) AS ca, coalesce(wb.cb, 0) AS cb
  FROM wa FULL JOIN wb
    ON wa.ga = wb.ga AND wa.gb = wb.gb AND wa.w = wb.w
),
terms AS (
  SELECT f.ga, f.gb, ta.n AS na2, tb.n AS nb2,
         (CASE WHEN f.ca > 0
               THEN (f.ca / CAST(ta.n AS DOUBLE))
                    * log2(2.0 * (f.ca / CAST(ta.n AS DOUBLE))
                           / ((f.ca / CAST(ta.n AS DOUBLE))
                              + (f.cb / CAST(tb.n AS DOUBLE))))
               ELSE 0.0 END
          + CASE WHEN f.cb > 0
               THEN (f.cb / CAST(tb.n AS DOUBLE))
                    * log2(2.0 * (f.cb / CAST(tb.n AS DOUBLE))
                           / ((f.ca / CAST(ta.n AS DOUBLE))
                              + (f.cb / CAST(tb.n AS DOUBLE))))
               ELSE 0.0 END) AS term
  FROM full_w f JOIN t ta ON f.ga = ta.g JOIN t tb ON f.gb = tb.g
)
SELECT ga AS group_a, gb AS group_b,
       CAST(max(na2) AS BIGINT) AS n_a, CAST(max(nb2) AS BIGINT) AS n_b,
       round(0.5 * sum(term), 6) AS jsd_bits
FROM terms GROUP BY ga, gb
"""


def ks_two_sample_by(
    df: DataFrame, group_col: str, value_col: str, side_col: str
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic — the exact,
    nonparametric drift signal that complements the binned ``psi_drift_by``
    (PSI is binning-sensitive; KS is the sup-norm distance between the two
    EXACT empirical CDFs, invariant to any monotone rescaling of the value).

        D = max over x of | ECDF_a(x) - ECDF_b(x) |

    ``side_col`` is a boolean: false rows form sample A (baseline), true
    rows sample B (current). Rows with NULL value or NULL side are excluded
    (no ECDF position for them).

    Cross-engine exactness: the sup is taken over the INTEGER quantity
    ``| cum_a * n_b - cum_b * n_a |`` accumulated in DECIMAL(38,0)
    (cum <= n, so the product is exact far past BIGINT range); the single
    float division by n_a * n_b happens once on the group's maximum. Two
    identical integer pipelines can't disagree, so the oracle matches to
    the last bit before the final round(6).

    Shape at scale: ONE (group, value) groupBy over the scan (map-side
    combinable — the shuffle carries distinct values, not rows), totals
    derived from it, then a per-group cumulative window over the DISTINCT
    value frame. The window sort is per group over distinct values — the
    inherent cost of an exact ECDF; for heavy groups the distinct-value
    frame is already the compressed form. Output is one row per group.
    A group with an empty side has no defined D: NULL via the n_a*n_b=0
    guard."""
    from pyspark.sql import Window

    from ..operators.caching import scoped_persist

    side = F.col(side_col)
    c = scoped_persist(
        df.where(F.col(value_col).isNotNull() & side.isNotNull())
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("x"))
        .agg(
            F.sum(F.when(~side, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(side, 1).otherwise(0)).cast("long").alias("cb"),
        )
    )
    w = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dec = "decimal(38,0)"
    cum = c.select(
        "g",
        F.sum("ca").over(w).cast(dec).alias("cum_a"),
        F.sum("cb").over(w).cast(dec).alias("cum_b"),
    )
    t = c.groupBy("g").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    j = cum.join(F.broadcast(t), "g")
    dnum = F.abs(
        F.col("cum_a") * F.col("n_b").cast(dec)
        - F.col("cum_b") * F.col("n_a").cast(dec)
    )
    agg = j.groupBy("g").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max(dnum).alias("dmax"),
    )
    den = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0),
        F.col("n_a").cast("double") * F.col("n_b").cast("double"),
    )
    return agg.select(
        F.col("g").alias(group_col),
        "n_a",
        "n_b",
        F.round(F.col("dmax").cast("double") / den, 6).alias("ks_d"),
    )


def ks_two_sample_by_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``ks_two_sample_by``: expects ``rows_sql``
    to yield (g, x, s) with s boolean; same exact-integer sup, same single
    terminal division."""
    return f"""
WITH rows_in AS ({rows_sql}),
c AS (
  SELECT g, x,
         sum(CASE WHEN NOT s THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN s THEN 1 ELSE 0 END) AS cb
  FROM rows_in WHERE x IS NOT NULL AND s IS NOT NULL
  GROUP BY g, x
),
cum AS (
  SELECT g,
         CAST(sum(ca) OVER (PARTITION BY g ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS cum_a,
         CAST(sum(cb) OVER (PARTITION BY g ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS cum_b
  FROM c
),
t AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
      FROM c GROUP BY g),
j AS (
  SELECT cum.g, t.n_a, t.n_b,
         abs(cum.cum_a * CAST(t.n_b AS DECIMAL(38,0))
             - cum.cum_b * CAST(t.n_a AS DECIMAL(38,0))) AS dnum
  FROM cum JOIN t ON cum.g = t.g
)
SELECT g, max(n_a) AS n_a, max(n_b) AS n_b,
       round(CAST(max(dnum) AS DOUBLE)
             / (CASE WHEN max(n_a) > 0 AND max(n_b) > 0
                     THEN CAST(max(n_a) AS DOUBLE) * CAST(max(n_b) AS DOUBLE)
                END), 6) AS ks_d
FROM j GROUP BY g
"""


def chi_square_independence(df: DataFrame, x: str, y: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V — the significance-bearing companion to
    ``mutual_information`` (MI says how dependent; chi2/V say whether the
    dependence exceeds sampling noise and on what effect scale).

    Zero cells are handled by algebra, not enumeration: a cell with
    observed 0 contributes (0-e)^2/e = e, and the expecteds over ALL R*C
    cells sum to n, so

        chi2 = sum_observed (o-e)^2/e + (n - sum_observed e)

    — the full-grid statistic from the observed cells alone. No R*C
    cross-join materializes, which matters when both sides are
    high-cardinality at corpus scale.

    Shape: one (x, y) groupBy over the scan (map-side combinable), two
    marginal groupBys over the CELL frame (never the corpus), broadcast
    joins of the marginals back onto the cells, one scalar aggregate.
    Rows with a NULL on either side are excluded (no cell). Float surface:
    e = rx*cy/n and the term sum run in DOUBLE in one canonical order,
    mirrored in the generated SQL; the handful-of-cells sum is rounded at
    6 decimals."""
    from ..operators.caching import scoped_persist

    o = scoped_persist(
        df.where(F.col(x).isNotNull() & F.col(y).isNotNull())
        .groupBy(F.col(x).alias("xv"), F.col(y).alias("yv"))
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rx = o.groupBy("xv").agg(F.sum("o").cast("long").alias("rx"))
    cy = o.groupBy("yv").agg(F.sum("o").cast("long").alias("cy"))
    tot = o.agg(
        F.sum("o").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    j = (
        o.join(F.broadcast(rx), "xv")
        .join(F.broadcast(cy), "yv")
        .crossJoin(F.broadcast(tot))
    )
    e = (
        F.col("rx").cast("double")
        * F.col("cy").cast("double")
        / F.col("n").cast("double")
    )
    od = F.col("o").cast("double")
    stats = j.agg(
        F.max("n").alias("n"),
        F.sum((od - e) * (od - e) / e).alias("chi2_obs"),
        F.sum(e).alias("e_obs"),
    )
    card = rx.agg(F.count(F.lit(1)).cast("long").alias("n_x")).crossJoin(
        cy.agg(F.count(F.lit(1)).cast("long").alias("n_y"))
    )
    out = stats.crossJoin(F.broadcast(card))
    chi2 = F.col("chi2_obs") + (F.col("n").cast("double") - F.col("e_obs"))
    mindim = F.least(F.col("n_x") - 1, F.col("n_y") - 1)
    v = F.when(
        mindim > 0,
        F.sqrt(chi2 / (F.col("n").cast("double") * mindim.cast("double"))),
    )
    return out.select(
        F.col("n"),
        "n_x",
        "n_y",
        ((F.col("n_x") - 1) * (F.col("n_y") - 1)).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(v, 6).alias("cramers_v"),
    )


def chi_square_independence_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``chi_square_independence``: expects
    ``rows_sql`` to yield (xv, yv); same observed-cells-only algebra."""
    return """
WITH rows_in AS ({rows_sql}),
o AS (SELECT xv, yv, count(*) AS o FROM rows_in
      WHERE xv IS NOT NULL AND yv IS NOT NULL GROUP BY xv, yv),
rx AS (SELECT xv, sum(o) AS rx FROM o GROUP BY xv),
cy AS (SELECT yv, sum(o) AS cy FROM o GROUP BY yv),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
terms AS (
  SELECT t.n,
         (CAST(o.o AS DOUBLE)
            - CAST(rx.rx AS DOUBLE) * CAST(cy.cy AS DOUBLE)
              / CAST(t.n AS DOUBLE))
         * (CAST(o.o AS DOUBLE)
            - CAST(rx.rx AS DOUBLE) * CAST(cy.cy AS DOUBLE)
              / CAST(t.n AS DOUBLE))
         / (CAST(rx.rx AS DOUBLE) * CAST(cy.cy AS DOUBLE)
            / CAST(t.n AS DOUBLE)) AS term,
         CAST(rx.rx AS DOUBLE) * CAST(cy.cy AS DOUBLE)
           / CAST(t.n AS DOUBLE) AS e
  FROM o JOIN rx ON o.xv = rx.xv JOIN cy ON o.yv = cy.yv CROSS JOIN tot t
),
stats AS (SELECT max(n) AS n, sum(term) AS chi2_obs, sum(e) AS e_obs
          FROM terms),
card AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM rx) AS n_x,
                (SELECT CAST(count(*) AS BIGINT) FROM cy) AS n_y)
SELECT s.n, c.n_x, c.n_y,
       CAST((c.n_x - 1) * (c.n_y - 1) AS BIGINT) AS dof,
       round(s.chi2_obs + (CAST(s.n AS DOUBLE) - s.e_obs), 6) AS chi2,
       round(CASE WHEN least(c.n_x - 1, c.n_y - 1) > 0 THEN
               sqrt((s.chi2_obs + (CAST(s.n AS DOUBLE) - s.e_obs))
                    / (CAST(s.n AS DOUBLE)
                       * CAST(least(c.n_x - 1, c.n_y - 1) AS DOUBLE)))
             END, 6) AS cramers_v
FROM stats s CROSS JOIN card c
""".format(rows_sql=rows_sql)


# Benford expected first-digit proportions log10(1 + 1/d): emitted as literal
# doubles so both engines consume the SAME constant instead of each calling
# its own log10 (equal to the last ulp in practice, but a literal removes
# even that surface).
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_report(df: DataFrame, amount_col: str, cents: bool = True) -> DataFrame:
    """First-significant-digit distribution of a positive amount column vs
    Benford's law — the classic fabricated-data / unit-mixing audit signal
    for financial or measurement columns. Output: one row per digit 1-9
    with observed count, observed and expected proportions, and the
    per-digit chi-square contribution n*(obs-exp)^2/exp.

    The digit is extracted EXACTLY: the amount is quantized to integer
    cents (``cents=True``; else used as an integer already), and the first
    digit is the first character of the integer's decimal string — integer
    -> string is identical cross-engine, where float log10-based digit
    extraction is not. Non-positive and NULL amounts are excluded (Benford
    is defined on positive magnitudes). One groupBy over the scan on a
    9-value key; the digit frame joins a 9-row literal expectation table."""
    amt = F.col(amount_col)
    c = (
        F.round(amt * 100).cast("long")
        if cents
        else amt.cast("long")
    )
    rows = df.where(amt.isNotNull()).select(c.alias("c")).where(F.col("c") > 0)
    d = rows.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n_d"))
    spark = df.sparkSession
    expected = local_df(
        spark, [(k, v) for k, v in _BENFORD_P.items()], "digit int, exp_p double"
    )
    tot = counts.agg(F.sum("n_d").cast("long").alias("n"))
    j = (
        F.broadcast(expected)
        .join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_d", F.lit(0)).cast("long").alias("n_d"),
            "exp_p",
            "n",
        )
    )
    obs = F.col("n_d").cast("double") / F.col("n").cast("double")
    chi = (
        F.col("n").cast("double")
        * (obs - F.col("exp_p"))
        * (obs - F.col("exp_p"))
        / F.col("exp_p")
    )
    return j.select(
        "digit",
        "n_d",
        F.round(obs, 6).alias("obs_p"),
        F.round("exp_p", 6).alias("exp_p"),
        F.round(chi, 6).alias("chi2_term"),
    )


def benford_report_sql(amount_sql: str, cents: bool = True) -> str:
    """Generated DuckDB mirror of ``benford_report``: ``amount_sql`` yields
    a single column ``amt``; the 9-row expectation table is emitted as the
    SAME double literals the Spark side uses."""
    quant = "CAST(round(amt * 100) AS BIGINT)" if cents else "CAST(amt AS BIGINT)"
    values = ", ".join(f"({d}, {p!r})" for d, p in _BENFORD_P.items())
    return f"""
WITH amounts AS ({amount_sql}),
c AS (SELECT {quant} AS c FROM amounts WHERE amt IS NOT NULL),
d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM c WHERE c > 0),
counts AS (SELECT digit, count(*) AS n_d FROM d GROUP BY digit),
expected (digit, exp_p) AS (VALUES {values}),
tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM counts)
SELECT e.digit, CAST(coalesce(c.n_d, 0) AS BIGINT) AS n_d,
       round(CAST(coalesce(c.n_d, 0) AS DOUBLE) / CAST(t.n AS DOUBLE), 6)
         AS obs_p,
       round(e.exp_p, 6) AS exp_p,
       round(CAST(t.n AS DOUBLE)
             * (CAST(coalesce(c.n_d, 0) AS DOUBLE) / CAST(t.n AS DOUBLE)
                - e.exp_p)
             * (CAST(coalesce(c.n_d, 0) AS DOUBLE) / CAST(t.n AS DOUBLE)
                - e.exp_p)
             / e.exp_p, 6) AS chi2_term
FROM expected e LEFT JOIN counts c ON e.digit = c.digit CROSS JOIN tot t
"""


def cusum_by(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    value_col: str,
    target: int,
    slack_k: int = 0,
    threshold_h: int | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """Per-group one-sided (upward) CUSUM changepoint scan — the classic
    sequential drift detector (Page 1954): the statistic

        S_i = max(0, S_{i-1} + (x_i - target - k)),   S_0 = 0

    alarms when S crosses h. PSI/KS/JSD compare two FIXED windows; CUSUM
    localizes WHEN a persistent shift began, which is the question a
    pipeline monitor actually asks.

    The recurrence is not a window frame — but its closed form is:

        S_i = P_i - min(0, min_{j<=i} P_j)

    with P the running prefix sum of (x - target - k). Two stacked window
    functions over ONE per-group sort (prefix sum, running min), both in
    EXACT integer arithmetic (``value_col`` must be integral — quantize to
    cents upstream; ``target``/``slack_k``/``threshold_h`` are integers),
    so both engines agree to the bit with no float surface at all.

    Output: one row per group — n, max_cusum (the peak statistic),
    n_alarms (rows with S > h), first_alarm_id (min ``id_col`` among alarm
    rows in scan order; NULL when no alarm or no id_col). Shape at scale:
    one exchange + sort per group (inherent to an ordered scan), then one
    map-side-combinable groupBy; nothing collected, no joins."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = (F.col(value_col) - F.lit(target) - F.lit(slack_k)).cast("long")
    # window-over-window must be staged: the prefix sum lands as a real
    # column first, then the running min reads it (same partition/order, so
    # Spark plans both frames over one exchange + sort)
    staged = df.withColumn("__p", F.sum(d).over(w)).withColumn(
        "__s", F.col("__p") - F.least(F.lit(0).cast("long"), F.min("__p").over(w))
    )
    alarm = (
        (F.col("__s") > F.lit(threshold_h))
        if threshold_h is not None
        else F.lit(False)
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("__s").cast("long").alias("max_cusum"),
        F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarms"),
    ]
    if id_col is not None:
        aggs.append(F.min(F.when(alarm, F.col(id_col))).alias("first_alarm_id"))
    return staged.groupBy(group_col).agg(*aggs)


def cusum_by_sql(
    rows_sql: str,
    target: int,
    slack_k: int = 0,
    threshold_h: int | None = None,
    with_id: bool = True,
) -> str:
    """Generated DuckDB mirror of ``cusum_by``: expects ``rows_sql`` to
    yield (g, ord1, ord2, x[, rid]); same exact-integer closed form."""
    h = "NULL" if threshold_h is None else str(threshold_h)
    alarm = f"s > {h}" if threshold_h is not None else "FALSE"
    first_alarm = (
        f", min(CASE WHEN {alarm} THEN rid END) AS first_alarm_id"
        if with_id
        else ""
    )
    rid = ", rid" if with_id else ""
    return f"""
WITH rows_in AS ({rows_sql}),
p AS (
  SELECT g{rid}, ord1, ord2,
         sum(x - {target} - {slack_k}) OVER (
           PARTITION BY g ORDER BY ord1, ord2
           ROWS UNBOUNDED PRECEDING) AS p
  FROM rows_in
),
s AS (
  SELECT g{rid},
         p - least(0, min(p) OVER (
           PARTITION BY g ORDER BY ord1, ord2
           ROWS UNBOUNDED PRECEDING)) AS s
  FROM p
)
SELECT g, CAST(count(*) AS BIGINT) AS n,
       CAST(max(s) AS BIGINT) AS max_cusum,
       CAST(sum(CASE WHEN {alarm} THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
       {first_alarm}
FROM s GROUP BY g
"""


def welch_ttest_by(
    df: DataFrame, group_col: str, value_col: str, side_col: str
) -> DataFrame:
    """Per-group Welch (unequal-variance) two-sample t-test — the A/B-test
    significance primitive: given an integer-quantized metric and a boolean
    cohort flag, report per group the cohort means, Welch t statistic, and
    Welch-Satterthwaite degrees of freedom. KS (``ks_two_sample_by``) asks
    "did the distribution move anywhere"; Welch asks the experiment
    question "did the MEAN move, relative to sampling noise".

    ``side_col`` is boolean: false = control (A), true = treatment (B).
    Rows with NULL value or NULL side are excluded.

    Cross-engine exactness: per side we accumulate only n, sum(x), and
    sum(x^2) as exact integers (DECIMAL(38,0) — x is required integer, e.g.
    cents). Every float quantity then derives from those three integers in
    one canonical double chain mirrored verbatim in the generated SQL:
    mean = sum/n, and the sample variance uses the exact integer numerator
    n*sum_xx - sum_x^2 (never the catastrophic-cancellation float form):
    var = (n*sum_xx - sum_x^2) / (n * (n-1)). Identical integer inputs +
    identical double expression tree = bit-equal outputs before the final
    round(6).

    Guards: a side with n < 2 has no variance — t/df are NULL (n_a/n_b
    still reported). Zero pooled standard error (both sides constant)
    yields NULL t/df via the se2 > 0 guard, not inf.

    Shape at scale: ONE map-side-combinable groupBy over the scan (the
    shuffle carries 6 integers per group), one row per group out. No
    window, no join, no second pass."""
    side = F.col(side_col)
    dec = "decimal(38,0)"
    x = F.col(value_col).cast(dec)
    g = (
        df.where(F.col(value_col).isNotNull() & side.isNotNull())
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.sum(F.when(~side, 1).otherwise(0)).cast("long").alias("n_a"),
            F.sum(F.when(~side, x).otherwise(F.lit(0).cast(dec))).alias("sa"),
            F.sum(F.when(~side, x * x).otherwise(F.lit(0).cast(dec))).alias("ssa"),
            F.sum(F.when(side, 1).otherwise(0)).cast("long").alias("n_b"),
            F.sum(F.when(side, x).otherwise(F.lit(0).cast(dec))).alias("sb"),
            F.sum(F.when(side, x * x).otherwise(F.lit(0).cast(dec))).alias("ssb"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    mean_a = F.col("sa").cast("double") / na
    mean_b = F.col("sb").cast("double") / nb
    # exact integer variance numerators (n*sum_xx - sum_x^2)
    va_num = (
        F.col("n_a").cast(dec) * F.col("ssa") - F.col("sa") * F.col("sa")
    ).cast("double")
    vb_num = (
        F.col("n_b").cast(dec) * F.col("ssb") - F.col("sb") * F.col("sb")
    ).cast("double")
    var_a = F.when(F.col("n_a") >= 2, va_num / (na * (na - F.lit(1.0))))
    var_b = F.when(F.col("n_b") >= 2, vb_num / (nb * (nb - F.lit(1.0))))
    sea = var_a / na
    seb = var_b / nb
    se2 = sea + seb
    t = F.when(se2 > 0, (mean_b - mean_a) / F.sqrt(se2))
    dfw = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            sea * sea / (na - F.lit(1.0))
            + seb * seb / (nb - F.lit(1.0))
        ),
    )
    return g.select(
        F.col("g").alias(group_col),
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfw, 6).alias("df_welch"),
    )


def welch_ttest_by_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``welch_ttest_by``: expects ``rows_sql``
    to yield (g, x, s) with x integer-valued and s boolean; same exact
    integer moments, same canonical double chain."""
    return f"""
WITH rows_in AS ({rows_sql}),
a AS (
  SELECT g,
         CAST(sum(CASE WHEN NOT s THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         sum(CASE WHEN NOT s THEN CAST(x AS DECIMAL(38,0))
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS sa,
         sum(CASE WHEN NOT s THEN CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS ssa,
         CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         sum(CASE WHEN s THEN CAST(x AS DECIMAL(38,0))
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS sb,
         sum(CASE WHEN s THEN CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
                  ELSE CAST(0 AS DECIMAL(38,0)) END) AS ssb
  FROM rows_in WHERE x IS NOT NULL AND s IS NOT NULL
  GROUP BY g
),
d AS (
  SELECT g, n_a, n_b,
         CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
         CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
         CASE WHEN n_a >= 2 THEN
           CAST(CAST(n_a AS DECIMAL(38,0)) * ssa - sa * sa AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)) END AS var_a,
         CASE WHEN n_b >= 2 THEN
           CAST(CAST(n_b AS DECIMAL(38,0)) * ssb - sb * sb AS DOUBLE)
             / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)) END AS var_b
  FROM a
),
e AS (
  SELECT g, n_a, n_b, mean_a, mean_b,
         var_a / CAST(n_a AS DOUBLE) AS sea,
         var_b / CAST(n_b AS DOUBLE) AS seb
  FROM d
)
SELECT g, n_a, n_b,
       round(mean_a, 6) AS mean_a,
       round(mean_b, 6) AS mean_b,
       round(CASE WHEN sea + seb > 0
                  THEN (mean_b - mean_a) / sqrt(sea + seb) END, 6) AS t_stat,
       round(CASE WHEN sea + seb > 0 THEN
               ((sea + seb) * (sea + seb))
               / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)
                  + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)) END, 6) AS df_welch
FROM e
"""


def gini_by(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group Gini concentration coefficient over a non-negative
    integer-quantized value — the single-number inequality summary that
    complements ``pareto_revenue_customers``'s full curve (Pareto answers
    "how many units cover 80%"; Gini is the area-based scalar you can
    threshold and trend).

        G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x))

    with x sorted ascending within the group and i the 1-based rank.
    Tie-safety: permuting equal values never changes sum(i * x_i) (the
    tied block contributes the same consecutive-rank sum either way), so
    the statistic is deterministic without a tiebreaker column.

    Cross-engine exactness: the numerator and denominator are EXACT
    integers (DECIMAL(38,0) — rank <= n and x is integer cents), one
    terminal double division per group, then round(6).

    Shape at scale: one per-group sort window (row_number + running state
    folded into a single exchange+sort) and one groupBy. The window sort
    is the inherent cost of an exact rank statistic; groups are
    independent so the sort parallelizes per group."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    w = Window.partitionBy("g").orderBy("x")
    r = (
        df.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("x"),
        )
        .withColumn("i", F.row_number().over(w).cast(dec))
    )
    agg = r.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("i") * F.col("x").cast(dec)).alias("six"),
    )
    ndec = F.col("n").cast(dec)
    num = (F.lit(2).cast(dec) * F.col("six") - (ndec + F.lit(1).cast(dec)) * F.col("sx"))
    den = ndec * F.col("sx")
    gini = F.when(den > 0, num.cast("double") / den.cast("double"))
    return agg.select(
        F.col("g").alias(group_col),
        "n",
        F.col("sx").cast("double").alias("total"),
        F.round(gini, 6).alias("gini"),
    )


def gini_by_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``gini_by``: expects ``rows_sql`` to
    yield (g, x) with x a non-negative integer; same exact integer
    numerator/denominator, one terminal division."""
    return f"""
WITH rows_in AS ({rows_sql}),
r AS (
  SELECT g, CAST(x AS BIGINT) AS x,
         CAST(row_number() OVER (PARTITION BY g ORDER BY x) AS DECIMAL(38,0)) AS i
  FROM rows_in WHERE x IS NOT NULL
),
agg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(i * CAST(x AS DECIMAL(38,0))) AS six
  FROM r GROUP BY g
)
SELECT g, n, CAST(sx AS DOUBLE) AS total,
       round(CASE WHEN CAST(n AS DECIMAL(38,0)) * sx > 0 THEN
               CAST(CAST(2 AS DECIMAL(38,0)) * six
                    - (CAST(n AS DECIMAL(38,0)) + 1) * sx AS DOUBLE)
               / CAST(CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE) END, 6) AS gini
FROM agg
"""


def acf_by(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    lags: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Per-group lag-k autocorrelation of an integer-quantized series — the
    "does yesterday predict today" screen that complements the monotone
    story of ``ols_trend_events`` (OLS finds drift; ACF finds persistence /
    periodicity at specific lags, e.g. acf_7 on daily data = weekly
    seasonality).

        acf(k) = sum_{t>k} (x_t - mu)(x_{t-k} - mu) / sum_t (x_t - mu)^2

    Cross-engine exactness: both sides are evaluated from exact integer
    moments only. With sxy_k = sum x_t*x_{t-k}, head/tail partial sums
    sh_k/st_k, and full-series n, sx, sxx, multiply numerator and
    denominator by n^2:

        num_k = n^2*sxy_k - n*sx*(sh_k + st_k) + (n-k)*sx^2
        den   = n^2*sxx   - n*sx^2

    — all DECIMAL(38,0); ONE double division per (group, lag), then
    round(6). Intended for AGGREGATED series (daily/hourly rollups: n in
    the thousands), where n^2 * sum|x*y| sits far inside 38 digits; it is
    not meant to run over raw event streams, and that is the right tool
    boundary anyway (ACF of unaggregated irregular events is not a
    defined quantity).

    Shape at scale: ONE per-group exchange+sort computes every lag column
    (same window spec => Catalyst folds them into a single Window node),
    then one map-side-combinable groupBy; one row per group out, lags as
    columns. NULL values are excluded before ordering (ACF needs a gap-free
    ranked series; interpolate first if gaps matter). ``order_col`` must
    totally order each group's rows (e.g. the aggregation day) — duplicate
    order keys would make the lag pairing nondeterministic."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    w = Window.partitionBy("g").orderBy("o")
    r = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.col(order_col).alias("o"),
        F.col(value_col).cast("long").alias("x"),
    )
    for k in lags:
        r = r.withColumn(f"xl{k}", F.lag("x", k).over(w))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
    ]
    for k in lags:
        lk = F.col(f"xl{k}")
        has = lk.isNotNull()
        z = F.lit(0).cast(dec)
        aggs += [
            F.sum(F.when(has, F.col("x").cast(dec) * lk.cast(dec)).otherwise(z))
            .alias(f"sxy{k}"),
            F.sum(F.when(has, lk.cast(dec)).otherwise(z)).alias(f"sh{k}"),
            F.sum(F.when(has, F.col("x").cast(dec)).otherwise(z)).alias(f"st{k}"),
        ]
    a = r.groupBy("g").agg(*aggs)
    n = F.col("n").cast(dec)
    sx = F.col("sx")
    den = n * n * F.col("sxx") - n * sx * sx
    out = [F.col("g").alias(group_col), F.col("n")]
    for k in lags:
        num = (
            n * n * F.col(f"sxy{k}")
            - n * sx * (F.col(f"sh{k}") + F.col(f"st{k}"))
            + (n - F.lit(k).cast(dec)) * sx * sx
        )
        acf = F.when(
            (den > 0) & (F.col("n") > k), num.cast("double") / den.cast("double")
        )
        out.append(F.round(acf, 6).alias(f"acf_{k}"))
    return a.select(*out)


def acf_by_sql(rows_sql: str, lags: tuple[int, ...] = (1, 2, 3)) -> str:
    """Generated DuckDB mirror of ``acf_by``: expects ``rows_sql`` to yield
    (g, o, x) with x integer; same exact integer moments and single
    terminal division per lag."""
    lag_cols = ",\n         ".join(
        f"lag(x, {k}) OVER (PARTITION BY g ORDER BY o) AS xl{k}" for k in lags
    )
    momenta = []
    for k in lags:
        momenta.append(
            f"sum(CASE WHEN xl{k} IS NOT NULL THEN CAST(x AS DECIMAL(38,0))"
            f" * CAST(xl{k} AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)"
            f" AS sxy{k}"
        )
        momenta.append(
            f"sum(CASE WHEN xl{k} IS NOT NULL THEN CAST(xl{k} AS DECIMAL(38,0))"
            f" ELSE CAST(0 AS DECIMAL(38,0)) END) AS sh{k}"
        )
        momenta.append(
            f"sum(CASE WHEN xl{k} IS NOT NULL THEN CAST(x AS DECIMAL(38,0))"
            f" ELSE CAST(0 AS DECIMAL(38,0)) END) AS st{k}"
        )
    momenta_sql = ",\n         ".join(momenta)
    acf_terms = ",\n       ".join(
        f"""round(CASE WHEN CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * sxx
                    - CAST(n AS DECIMAL(38,0)) * sx * sx > 0 AND n > {k} THEN
         CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * sxy{k}
              - CAST(n AS DECIMAL(38,0)) * sx * (sh{k} + st{k})
              + (CAST(n AS DECIMAL(38,0)) - {k}) * sx * sx AS DOUBLE)
         / CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * sxx
                - CAST(n AS DECIMAL(38,0)) * sx * sx AS DOUBLE) END, 6) AS acf_{k}"""
        for k in lags
    )
    return f"""
WITH rows_in AS ({rows_sql}),
r AS (
  SELECT g, o, CAST(x AS BIGINT) AS x,
         {lag_cols}
  FROM rows_in WHERE x IS NOT NULL
),
a AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS DECIMAL(38,0))) AS sx,
         sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
         {momenta_sql}
  FROM r GROUP BY g
)
SELECT g, n,
       {acf_terms}
FROM a
"""


def seasonal_index_by(
    df: DataFrame, group_col: str, slot_col: str, value_col: str
) -> DataFrame:
    """Per-(group, slot) seasonal index in EXACT basis points — the
    calendar-profile operator (slot = hour-of-day, day-of-week, ...):

        index = mean(x | slot) / mean(x)     (per group)

    10000 = the slot runs at the group's average; 15000 = 1.5x. The exact
    rational form is (sum_s * n_t) / (n_s * sum_t); the basis points are
    computed by EXACT half-up integer division ((2*10^4*A + B) div (2*B)
    with A = 10^4-scaled numerator, B = denominator, both DECIMAL(38,0))
    so there is NO float anywhere — the same boundary-proofing that fixed
    ``quality_score`` at sf0.1 (a reachable .00005 boundary flips round()
    per engine; integer division cannot).

    Sign contract (ADVICE r12): ``value_col`` is UNCONSTRAINED — a negative
    slot sum makes the numerator 2a+b negative while b > 0. Spark's
    ``(n - pmod(n, d)) / d`` is true FLOOR for all signs (half-up =
    half-toward-+inf), but DuckDB ``//`` truncates toward zero, so the
    generated mirror carries an explicit floor adjustment
    (``- CASE WHEN n < 0 AND n % d <> 0 THEN 1 END``) to stay bit-equal
    on negative numerators too (unit-tested both engines).

    Shape at scale: one (group, slot) map-side-combinable groupBy over the
    scan, one group-level groupBy over the SLOT frame (never the corpus),
    broadcast join of the totals back on. Output is one row per
    (group, slot) — bounded by |groups| * |slots|."""
    dec = "decimal(38,0)"
    s = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(group_col).alias("g"), F.col(slot_col).alias("slot"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_s"),
            F.sum(F.col(value_col).cast(dec)).alias("sum_s"),
        )
    )
    t = s.groupBy("g").agg(
        F.sum("n_s").cast("long").alias("n_t"),
        F.sum("sum_s").alias("sum_t"),
    )
    j = s.join(F.broadcast(t), "g")
    a = F.lit(10000).cast(dec) * F.col("sum_s") * F.col("n_t").cast(dec)
    b = F.col("n_s").cast(dec) * F.col("sum_t")
    exact = (F.lit(2).cast(dec) * a + b) - F.pmod(
        F.lit(2).cast(dec) * a + b, F.lit(2).cast(dec) * b
    )
    bp = F.when(b > 0, (exact / (F.lit(2).cast(dec) * b)).cast("long"))
    return j.select(
        F.col("g").alias(group_col),
        "slot",
        "n_s",
        F.col("sum_s").cast("double").alias("slot_total"),
        bp.alias("index_bp"),
    )


def seasonal_index_by_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``seasonal_index_by``: expects
    ``rows_sql`` to yield (g, slot, x) with x integer; same exact half-up
    integer division as HUGEINT ``//`` plus an explicit floor adjustment
    (DuckDB ``//`` truncates toward zero; Spark's pmod form floors — they
    diverge by 1 exactly when the numerator is negative and not divisible)."""
    return f"""
WITH rows_in AS ({rows_sql}),
s AS (
  SELECT g, slot, CAST(count(*) AS BIGINT) AS n_s,
         sum(CAST(x AS DECIMAL(38,0))) AS sum_s
  FROM rows_in WHERE x IS NOT NULL GROUP BY g, slot
),
t AS (SELECT g, CAST(sum(n_s) AS BIGINT) AS n_t, sum(sum_s) AS sum_t
      FROM s GROUP BY g),
j AS (
  SELECT s.g, s.slot, s.n_s, s.sum_s,
         CAST(10000 AS HUGEINT) * CAST(s.sum_s AS HUGEINT)
           * CAST(t.n_t AS HUGEINT) AS a,
         CAST(s.n_s AS HUGEINT) * CAST(t.sum_t AS HUGEINT) AS b
  FROM s JOIN t ON s.g = t.g
)
SELECT g, slot, n_s, CAST(sum_s AS DOUBLE) AS slot_total,
       CASE WHEN b > 0 THEN CAST(
         ((CAST(2 AS HUGEINT) * a + b) // (CAST(2 AS HUGEINT) * b))
         - CASE WHEN (CAST(2 AS HUGEINT) * a + b) < 0
                 AND (CAST(2 AS HUGEINT) * a + b) % (CAST(2 AS HUGEINT) * b) <> 0
                THEN 1 ELSE 0 END
         AS BIGINT) END AS index_bp
FROM j
"""


def rank_sum_auc_by(
    df: DataFrame, group_col: str, value_col: str, side_col: str
) -> DataFrame:
    """Per-group Mann-Whitney U / exact ROC-AUC — one statistic, two
    readings: U is the nonparametric location test (the rank-sum
    companion to ``welch_ttest_by`` when means are the wrong summary),
    and AUC = U / (n_a * n_b) is the probability a random positive
    (side=true) scores above a random negative — the standard classifier
    ranking metric, computed EXACTLY with midrank tie handling.

    Cross-engine exactness: everything until the final division is
    integer. Per distinct value, the doubled midrank is
    2*mid = 2*cum_end - cnt + 1 (cum_end the cumulative count through
    this value, cnt its tie count), so

        2*R_b = sum_b cb * (2*cum_end - cnt + 1)     (doubled rank sum)
        2*U_b = 2*R_b - n_b * (n_b + 1)
        auc   = 2*U_b / (2 * n_a * n_b)

    all in DECIMAL(38,0); ONE double division per group, then round(6).

    Shape at scale: identical to ``ks_two_sample_by`` — one map-side-
    combinable (group, value) groupBy (the shuffle carries DISTINCT
    values), one per-group cumulative window over the distinct-value
    frame, totals broadcast back, one row per group out."""
    from pyspark.sql import Window

    from ..operators.caching import scoped_persist

    side = F.col(side_col)
    dec = "decimal(38,0)"
    c = scoped_persist(
        df.where(F.col(value_col).isNotNull() & side.isNotNull())
        .groupBy(F.col(group_col).alias("g"), F.col(value_col).alias("x"))
        .agg(
            F.sum(F.when(~side, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(side, 1).otherwise(0)).cast("long").alias("cb"),
        )
    )
    w = (
        Window.partitionBy("g")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cnt = (F.col("ca") + F.col("cb")).cast(dec)
    cum_end = F.sum(F.col("ca") + F.col("cb")).over(w).cast(dec)
    r2_term = F.col("cb").cast(dec) * (
        F.lit(2).cast(dec) * cum_end - cnt + F.lit(1).cast(dec)
    )
    t = c.groupBy("g").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    r2 = (
        c.withColumn("r2_term", r2_term)
        .groupBy("g")
        .agg(F.sum("r2_term").alias("r2b"))
    )
    j = r2.join(F.broadcast(t), "g")
    u2 = F.col("r2b") - F.col("n_b").cast(dec) * (F.col("n_b").cast(dec) + 1)
    den = (
        F.lit(2).cast(dec) * F.col("n_a").cast(dec) * F.col("n_b").cast(dec)
    )
    auc = F.when(den > 0, u2.cast("double") / den.cast("double"))
    return j.select(
        F.col("g").alias(group_col),
        "n_a",
        "n_b",
        (u2.cast("double") / F.lit(2.0)).alias("u_stat"),
        F.round(auc, 6).alias("auc"),
    )


def rank_sum_auc_by_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``rank_sum_auc_by``: expects ``rows_sql``
    to yield (g, x, s) with s boolean; same doubled-midrank integer
    algebra, one terminal division."""
    return f"""
WITH rows_in AS ({rows_sql}),
c AS (
  SELECT g, x,
         sum(CASE WHEN NOT s THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN s THEN 1 ELSE 0 END) AS cb
  FROM rows_in WHERE x IS NOT NULL AND s IS NOT NULL
  GROUP BY g, x
),
cum AS (
  SELECT g, ca, cb,
         CAST(ca + cb AS DECIMAL(38,0)) AS cnt,
         CAST(sum(ca + cb) OVER (PARTITION BY g ORDER BY x
                                 ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0))
           AS cum_end
  FROM c
),
r AS (
  SELECT g,
         sum(CAST(cb AS DECIMAL(38,0))
             * (CAST(2 AS DECIMAL(38,0)) * cum_end - cnt
                + CAST(1 AS DECIMAL(38,0)))) AS r2b
  FROM cum GROUP BY g
),
t AS (SELECT g, CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
      FROM c GROUP BY g),
j AS (
  SELECT r.g, t.n_a, t.n_b,
         r.r2b - CAST(t.n_b AS DECIMAL(38,0))
               * (CAST(t.n_b AS DECIMAL(38,0)) + 1) AS u2
  FROM r JOIN t ON r.g = t.g
)
SELECT g, n_a, n_b,
       CAST(u2 AS DOUBLE) / 2.0 AS u_stat,
       round(CASE WHEN CAST(2 AS DECIMAL(38,0)) * CAST(n_a AS DECIMAL(38,0))
                       * CAST(n_b AS DECIMAL(38,0)) > 0
                  THEN CAST(u2 AS DOUBLE)
                       / CAST(CAST(2 AS DECIMAL(38,0))
                              * CAST(n_a AS DECIMAL(38,0))
                              * CAST(n_b AS DECIMAL(38,0)) AS DOUBLE)
             END, 6) AS auc
FROM j
"""


def rfm_segments(
    orders: DataFrame,
    entity_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintile scores) —
    the classic customer-value grid, built WITHOUT a global ntile: a
    no-partition ntile window pushes every entity through one task, the
    exact shape ``pareto_revenue_customers`` was rebuilt to avoid. Instead,
    each metric's four quintile boundary VALUES are derived from the
    cumulative window over its DISTINCT-value frame (the compressed ECDF),
    aggregated to ONE row, and broadcast back; scores are then assigned
    scan-locally with threshold comparisons. Entities tied on a metric
    value always share a score (ntile would split them arbitrarily —
    this form is deterministic AND semantically saner).

    Threshold contract (identical in the generated SQL): with n entities,
    q_k = (k*n + 4) div 5 (= ceil(k*n/5)) and
    t_k = min{v : cum(v) >= q_k}; score(x) = 1 + sum_k [x > t_k] for
    frequency/monetary (higher = better), and recency_score =
    5 - sum_k [r > t_k] ... i.e. 5 at low recency-days, 1 at high.
    Everything is exact integers (days, counts, cents).

    Output: one row per (r_score, f_score, m_score) segment with entity
    count and total monetary cents — at most 125 rows.

    Shape: one entity rollup groupBy over the scan, then per metric one
    DISTINCT-value groupBy + ``running_totals``' cumulative count over that
    compressed frame (one window over the distinct values, not the
    entities) + a 1-row aggregate; three 1-row broadcasts joined back;
    final 125-key groupBy. No row-level ntile."""
    from ..operators.caching import scoped_persist
    from ..operators.windows import running_totals

    ref = orders.agg(F.max(F.col(date_col).cast("date")).alias("__ref"))
    base = scoped_persist(
        orders.crossJoin(F.broadcast(ref))
        .select(
            F.col(entity_col).alias("ent"),
            F.datediff(F.col("__ref"), F.col(date_col).cast("date"))
            .cast("long")
            .alias("days"),
            F.round(F.col(amount_col) * 100).cast("long").alias("cents"),
        )
        .groupBy("ent")
        .agg(
            F.min("days").cast("long").alias("rec"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("cents").cast("long").alias("mon"),
        )
    )

    def thresholds(col: str):
        c = base.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        cum = running_totals(
            c, "cnt", order_by=[("v", "asc")], cum_col="cum"
        ).select("v", F.col("cum").cast("long").alias("cum"))
        n = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
        j = cum.crossJoin(F.broadcast(n))
        aggs = []
        for k in (1, 2, 3, 4):
            kn4 = F.lit(k) * F.col("n") + 4
            q = ((kn4 - F.pmod(kn4, 5)) / 5).cast("long")
            aggs.append(
                F.min(F.when(F.col("cum") >= q, F.col("v"))).alias(f"{col}_t{k}")
            )
        return F.broadcast(j.groupBy().agg(*aggs))

    scored = (
        base.crossJoin(thresholds("rec"))
        .crossJoin(thresholds("freq"))
        .crossJoin(thresholds("mon"))
    )

    def up_score(col: str) -> F.Column:
        s = F.lit(1)
        for k in (1, 2, 3, 4):
            s = s + F.when(F.col(col) > F.col(f"{col}_t{k}"), 1).otherwise(0)
        return s.cast("long")

    def down_score(col: str) -> F.Column:
        s = F.lit(5)
        for k in (1, 2, 3, 4):
            s = s - F.when(F.col(col) > F.col(f"{col}_t{k}"), 1).otherwise(0)
        return s.cast("long")

    return (
        scored.select(
            down_score("rec").alias("r_score"),
            up_score("freq").alias("f_score"),
            up_score("mon").alias("m_score"),
            F.col("mon"),
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.sum("mon").cast("long").alias("monetary_cents"),
        )
    )


def rfm_segments_sql(
    table: str = "orders",
    entity_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
) -> str:
    """Generated DuckDB mirror of ``rfm_segments``: same rollup, same
    q_k = (k*n + 4) // 5 thresholds over the distinct-value ECDF, same
    strictly-greater score comparisons."""

    def _thr(col: str) -> str:
        picks = ", ".join(
            f"min(CASE WHEN cum >= ({k} * n + 4) // 5 THEN v END) AS {col}_t{k}"
            for k in (1, 2, 3, 4)
        )
        return f"""
{col}_thr AS (
  SELECT {picks} FROM (
    SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum, n
    FROM (SELECT {col} AS v, CAST(count(*) AS BIGINT) AS cnt
          FROM base GROUP BY {col}) c
    CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM base) t
  ) cm
)"""

    up = lambda col: (
        "1 + "
        + " + ".join(
            f"(CASE WHEN {col} > {col}_t{k} THEN 1 ELSE 0 END)" for k in (1, 2, 3, 4)
        )
    )
    down = lambda col: (
        "5 - "
        + " - ".join(
            f"(CASE WHEN {col} > {col}_t{k} THEN 1 ELSE 0 END)" for k in (1, 2, 3, 4)
        )
    )
    return f"""
WITH ref AS (SELECT max(CAST({date_col} AS DATE)) AS refd FROM {table}),
base AS (
  SELECT {entity_col} AS ent,
         CAST(min(date_diff('day', CAST({date_col} AS DATE),
                            (SELECT refd FROM ref))) AS BIGINT) AS rec,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(CAST(round({amount_col} * 100) AS BIGINT)) AS BIGINT) AS mon
  FROM {table} GROUP BY {entity_col}
),
{_thr("rec")},
{_thr("freq")},
{_thr("mon")},
scored AS (
  SELECT CAST({down("rec")} AS BIGINT) AS r_score,
         CAST({up("freq")} AS BIGINT) AS f_score,
         CAST({up("mon")} AS BIGINT) AS m_score,
         mon
  FROM base CROSS JOIN rec_thr CROSS JOIN freq_thr CROSS JOIN mon_thr
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_entities,
       CAST(sum(mon) AS BIGINT) AS monetary_cents
FROM scored GROUP BY r_score, f_score, m_score
"""


def score_lift_deciles(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Classifier calibration / lift table — the ML-eval companion to the
    exact AUC (``rank_sum_auc_by``): bucket entities into score deciles
    and report, per decile, the positive rate and the lift over the base
    rate. AUC says "the ranking is good"; the lift table says WHERE the
    ranking earns its keep (which decile to threshold for a
    quality-filtered corpus cut).

    Deciles reuse the RFM threshold machinery — NO global ntile: the nine
    boundary values t_k = min{v : cum(v) >= ceil(k*n/10)} come from
    ``running_totals``' cumulative count over the DISTINCT-score frame,
    broadcast back as ONE row; decile(x) = 1 + sum_k [x > t_k]
    (1 = lowest scores). Ties share a decile, so decile populations are
    only approximately n/10 under heavy ties — the deterministic,
    semantically-correct trade (ntile splits ties arbitrarily).

    Exact integers end to end: pos_rate_bp = half_up(10^4 * pos / n) and
    lift_bp = half_up(10^4 * pos * N / (n * POS)) via the pmod floor-div
    form in DECIMAL(38,0) (DuckDB mirror uses HUGEINT //; pos/n/N/POS are
    counts, so the numerator is non-negative and truncation == floor); no
    float surface at all. NULL lift when POS = 0.

    Shape: one distinct-score groupBy + a cumulative-count window +
    1-row broadcast, one scan-local decile assignment, one 10-key
    groupBy, one 1-row totals broadcast."""
    from ..operators.caching import scoped_persist
    from ..operators.windows import running_totals

    dec = "decimal(38,0)"
    base = scoped_persist(
        df.where(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.col(score_col).cast("long").alias("x"),
            F.col(label_col).cast("boolean").alias("y"),
        )
    )
    c = base.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = running_totals(c, "cnt", order_by=[("x", "asc")], cum_col="cum").select(
        "x", F.col("cum").cast("long").alias("cum")
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("pos_total"),
    )
    jt = cum.crossJoin(F.broadcast(tot))
    aggs = []
    for k in range(1, 10):
        knk = F.lit(k) * F.col("n_total") + 9
        q = ((knk - F.pmod(knk, 10)) / 10).cast("long")
        aggs.append(F.min(F.when(F.col("cum") >= q, F.col("x"))).alias(f"t{k}"))
    thr = F.broadcast(jt.groupBy().agg(*aggs))

    decile = F.lit(1)
    for k in range(1, 10):
        decile = decile + F.when(F.col("x") > F.col(f"t{k}"), 1).otherwise(0)
    scored = base.crossJoin(thr).select(
        decile.cast("long").alias("decile"), "y"
    )
    g = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("n_pos"),
    )
    g = g.crossJoin(F.broadcast(tot))

    def half_up(a: "F.Column", b: "F.Column") -> "F.Column":
        num = F.lit(2).cast(dec) * a + b
        exact = num - F.pmod(num, F.lit(2).cast(dec) * b)
        return (exact / (F.lit(2).cast(dec) * b)).cast("long")

    rate_bp = half_up(
        F.lit(10000).cast(dec) * F.col("n_pos").cast(dec), F.col("n").cast(dec)
    )
    lift_bp = F.when(
        F.col("pos_total") > 0,
        half_up(
            F.lit(10000).cast(dec)
            * F.col("n_pos").cast(dec)
            * F.col("n_total").cast(dec),
            F.col("n").cast(dec) * F.col("pos_total").cast(dec),
        ),
    )
    return g.select(
        "decile",
        "n",
        "n_pos",
        rate_bp.alias("pos_rate_bp"),
        lift_bp.alias("lift_bp"),
    )


def score_lift_deciles_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``score_lift_deciles``: expects
    ``rows_sql`` to yield (x, y) with x integer and y boolean; same
    ECDF thresholds, same HUGEINT half-up divisions."""
    picks = ", ".join(
        f"min(CASE WHEN cum >= ({k} * n_total + 9) // 10 THEN x END) AS t{k}"
        for k in range(1, 10)
    )
    dec_expr = "1 + " + " + ".join(
        f"(CASE WHEN b.x > t.t{k} THEN 1 ELSE 0 END)" for k in range(1, 10)
    )
    return f"""
WITH base AS (
  SELECT CAST(x AS BIGINT) AS x, CAST(y AS BOOLEAN) AS y FROM ({rows_sql}) r
  WHERE x IS NOT NULL AND y IS NOT NULL
),
c AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM base GROUP BY x),
cum AS (
  SELECT x, CAST(sum(cnt) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum
  FROM c
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos_total
  FROM base
),
thr AS (SELECT {picks} FROM cum CROSS JOIN tot),
scored AS (
  SELECT CAST({dec_expr} AS BIGINT) AS decile, b.y
  FROM base b CROSS JOIN thr t
),
g AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
  FROM scored GROUP BY decile
)
SELECT g.decile, g.n, g.n_pos,
       CAST((CAST(2 AS HUGEINT) * 10000 * g.n_pos + g.n)
            // (CAST(2 AS HUGEINT) * g.n) AS BIGINT) AS pos_rate_bp,
       CASE WHEN t.pos_total > 0 THEN
         CAST((CAST(2 AS HUGEINT) * 10000 * CAST(g.n_pos AS HUGEINT)
               * CAST(t.n_total AS HUGEINT)
               + CAST(g.n AS HUGEINT) * CAST(t.pos_total AS HUGEINT))
              // (CAST(2 AS HUGEINT) * CAST(g.n AS HUGEINT)
                  * CAST(t.pos_total AS HUGEINT)) AS BIGINT)
       END AS lift_bp
FROM g CROSS JOIN tot t
"""


def wape_backtest_by(
    df: DataFrame, group_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Seasonal-naive forecast backtest in EXACT basis points — the
    "would the dumbest forecast have worked" baseline every real
    forecasting effort must beat: predict each period's value with the
    group's PREVIOUS observed period, score with WAPE (weighted absolute
    percentage error):

        wape = sum |actual - forecast| / sum actual

    WAPE (not MAPE) on purpose: MAPE divides per point — a float per
    row and an explosion on near-zero actuals; WAPE is a ratio of two
    exact integer sums, so the entire statistic is ONE half-up integer
    division (DECIMAL(38,0) pmod; DuckDB HUGEINT //), zero float. The
    first observed period per group has no forecast and is excluded.
    Sign-safe by construction: sae is a sum of |diffs| (>= 0) and the
    division is guarded sa > 0, so the numerator 2a+b is never negative
    and DuckDB's truncating ``//`` coincides with Spark's pmod floor.

    Shape at scale: meant for AGGREGATED series (the registered query
    feeds daily totals): one per-group exchange+sort for the lag, one
    map-side-combinable groupBy. ``order_col`` must totally order the
    group (the aggregation period)."""
    from pyspark.sql import Window

    dec = "decimal(38,0)"
    w = Window.partitionBy("g").orderBy("o")
    r = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.col(order_col).alias("o"),
        F.col(value_col).cast("long").alias("x"),
    )
    r = r.withColumn("f", F.lag("x").over(w)).where(F.col("f").isNotNull())
    agg = r.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_periods"),
        F.sum(F.abs(F.col("x") - F.col("f")).cast(dec)).alias("sae"),
        F.sum(F.col("x").cast(dec)).alias("sa"),
    )
    a = F.lit(10000).cast(dec) * F.col("sae")
    b = F.col("sa")
    num = F.lit(2).cast(dec) * a + b
    exact = num - F.pmod(num, F.lit(2).cast(dec) * b)
    bp = F.when(b > 0, (exact / (F.lit(2).cast(dec) * b)).cast("long"))
    return agg.select(
        F.col("g").alias(group_col), "n_periods", bp.alias("wape_bp")
    )


def wape_backtest_by_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``wape_backtest_by``: expects ``rows_sql``
    to yield (g, o, x) with x integer; same lag forecast, same HUGEINT
    half-up division."""
    return f"""
WITH rows_in AS ({rows_sql}),
r AS (
  SELECT g, o, CAST(x AS BIGINT) AS x,
         lag(x) OVER (PARTITION BY g ORDER BY o) AS f
  FROM rows_in WHERE x IS NOT NULL
),
agg AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n_periods,
         CAST(sum(abs(x - f)) AS HUGEINT) AS sae,
         CAST(sum(x) AS HUGEINT) AS sa
  FROM r WHERE f IS NOT NULL GROUP BY g
)
SELECT g, n_periods,
       CASE WHEN sa > 0 THEN CAST(
         (CAST(2 AS HUGEINT) * 10000 * sae + sa) // (CAST(2 AS HUGEINT) * sa)
         AS BIGINT) END AS wape_bp
FROM agg
"""


def pairwise_corr_by(
    df: DataFrame, group_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Pearson cross-correlation between every pair of group series —
    "do errors spike when purchases spike": the co-movement screen that
    completes the per-series toolkit (``ols_trend`` = drift, ``acf_by`` =
    self-persistence, this = cross-coupling). Series are aligned on
    ``order_col`` (inner: only periods BOTH groups observed count).

        r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    All moments exact DECIMAL(38,0); the final expression is one
    canonical double chain (two casts, one sqrt, one division) mirrored
    verbatim in the SQL, round(6). Zero-variance series pair -> NULL.

    Shape at scale: a self-join of the (group, period, value) frame on
    the period key with ga < gb — for AGGREGATED series the frame is
    |periods| x |groups| rows, the join emits |periods| x |groups|^2 / 2,
    both tiny next to the corpus; then ONE map-side-combinable groupBy
    per pair. The join key (period) is uniform by construction — no
    skew."""
    dec = "decimal(38,0)"
    r = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.col(order_col).alias("o"),
        F.col(value_col).cast("long").alias("x"),
    )
    a = r.select(F.col("g").alias("ga"), "o", F.col("x").alias("xa"))
    b = r.select(F.col("g").alias("gb"), "o", F.col("x").alias("xb"))
    j = a.join(b, "o").where(F.col("ga") < F.col("gb"))
    xa = F.col("xa").cast(dec)
    xb = F.col("xb").cast(dec)
    agg = j.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(xa).alias("sx"),
        F.sum(xb).alias("sy"),
        F.sum(xa * xb).alias("sxy"),
        F.sum(xa * xa).alias("sxx"),
        F.sum(xb * xb).alias("syy"),
    )
    n = F.col("n").cast(dec)
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        num.cast("double")
        / F.sqrt(vx.cast("double") * vy.cast("double")),
    )
    return agg.select(
        F.col("ga").alias("group_a"),
        F.col("gb").alias("group_b"),
        "n",
        F.round(corr, 6).alias("corr"),
    )


def pairwise_corr_by_sql(rows_sql: str) -> str:
    """Generated DuckDB mirror of ``pairwise_corr_by``: expects ``rows_sql``
    to yield (g, o, x) with x integer; same exact moments, same canonical
    double chain."""
    return f"""
WITH rows_in AS ({rows_sql}),
r AS (SELECT g, o, CAST(x AS BIGINT) AS x FROM rows_in WHERE x IS NOT NULL),
j AS (
  SELECT a.g AS ga, b.g AS gb,
         CAST(a.x AS DECIMAL(38,0)) AS xa, CAST(b.x AS DECIMAL(38,0)) AS xb
  FROM r a JOIN r b ON a.o = b.o WHERE a.g < b.g
),
agg AS (
  SELECT ga, gb, CAST(count(*) AS BIGINT) AS n,
         sum(xa) AS sx, sum(xb) AS sy, sum(xa * xb) AS sxy,
         sum(xa * xa) AS sxx, sum(xb * xb) AS syy
  FROM j GROUP BY ga, gb
)
SELECT ga AS group_a, gb AS group_b, n,
       round(CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx - sx * sx > 0
                   AND CAST(n AS DECIMAL(38,0)) * syy - sy * sy > 0 THEN
         CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)
                * CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE))
       END, 6) AS corr
FROM agg
"""
