"""Exact heavy hitters (top-k by frequency) without a full-cardinality
shuffle: two-phase Misra-Gries.

The plain plan — ``groupBy(col).count()`` then top-k — is map-side
combinable, but its exchange still carries one row PER DISTINCT KEY per map
partition: at 100 TB of URLs/tokens that is billions of partial rows whose
only purpose is to lose to the top-k filter. The classic fix (Misra-Gries
1982; the summary-merge analysis is Agarwal et al., "Mergeable Summaries",
PODS 2012) runs per-partition MG summaries of capacity ``c`` — bounded
state, one pass — and only the summaries' SURVIVORS (<= c rows per
partition) become candidates whose exact counts are then re-counted with an
ordinary combinable groupBy over a broadcast semi-join. The result is
certified exact, not approximate:

* MG guarantee, per partition p with n_p rows: any value absent from p's
  summary has true count in p strictly below n_p / (c + 1).
* Summed over partitions: a value absent from EVERY summary has global
  count < N / (c + 1).
* So if the k-th best exact candidate count >= N / (c + 1), no
  non-candidate can displace the top k — the answer equals the full
  groupBy's. The operator CHECKS this certificate; when the data is too
  flat for it (no heavy hitters at this capacity), it falls back to the
  plain full groupBy rather than return a possibly-wrong set.

Reference scope: the reference engine has no frequency operator at all
(its closest is the es-dumper's per-type counts); this is part of the
LLM-scale toolkit next to the CMS/HLL sketches (operators/sketches.py) —
CMS estimates any key's count with error; this returns the exact top-k set
with a proof, which is what vocabulary builds and URL-dedup triage actually
consume.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caching import scoped_persist

# default summary capacity: candidates are <= capacity * n_partitions rows
# (at 64 * 1000 partitions = 64k rows — broadcast-sized), and the
# certificate needs the k-th hitter to hold > N/(capacity+1) of the rows,
# so capacity should be >> k / (expected share of the k-th hitter).
DEFAULT_CAPACITY = 256


def _mg_partial(capacity: int):
    """Per-partition Misra-Gries over a single 'v' column via the MERGE form
    (Agarwal et al. 2012, Lemma 1): each Arrow batch's exact value_counts is
    a trivially-valid summary; merging = add counts, and when more than
    ``capacity`` entries remain, subtract the (capacity+1)-th largest count
    from ALL and drop the non-positive — the total undercount introduced
    across all merges stays <= n_p/(capacity+1). Fully vectorized in pandas
    (the element-at-a-time MG fold costs O(capacity) python-dict work per
    eviction event — measured irrelevant at sketch sizes but pointless when
    the merge form is a two-liner on Series). Emits (value, est, rows_seen);
    est is the residual (undercounted) weight, rows_seen sums to N."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = None
        rows_seen = 0
        for pdf in batches:
            vals = pdf["v"]
            rows_seen += len(vals)
            vc = vals.value_counts()
            s = vc if s is None else s.add(vc, fill_value=0)
            if len(s) > capacity:
                cut = s.nlargest(capacity + 1).iloc[-1]
                s = s[s > cut] - cut
        if s is None or len(s) == 0:
            yield pd.DataFrame({"v": [None], "est": [0], "rows_seen": [rows_seen]})
            return
        out = pd.DataFrame(
            {
                "v": s.index,
                "est": s.values.astype("int64"),
                "rows_seen": [0] * len(s),
            }
        )
        out.loc[out.index[0], "rows_seen"] = rows_seen
        yield out

    return run


def frequent_items(
    df: DataFrame,
    col: str,
    k: int = 10,
    capacity: int = DEFAULT_CAPACITY,
) -> DataFrame:
    """Exact top-``k`` values of ``col`` by count, as (value, n, rank) with
    the deterministic (n desc, value asc) ordering — ties at the boundary
    resolve by value, so the result is a pure function of the data.

    NULL keys are excluded (the SQL mirror filters them identically) — a
    NULL-share question belongs to the profiling operators, not a
    vocabulary/top-terms result.

    Scale shape: one scan-local MG pass (bounded ``capacity`` state per
    partition), a summary-sized merge (<= capacity * partitions rows), one
    broadcast semi-join + combinable groupBy over candidate rows only, and
    a k-bounded TakeOrdered. The full-cardinality exchange of the naive
    plan never happens — unless the exactness certificate fails (see module
    docstring), in which case the operator runs the plain groupBy (with the
    same k-bounded TakeOrdered, never a global single-partition sort) and
    the answer is still exact, just not cheap.
    """
    assert k >= 1 and capacity > k
    src = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    field = src.schema["v"]
    summary_schema = (
        f"v {field.dataType.simpleString()}, est long, rows_seen long"
    )
    summaries = scoped_persist(
        src.mapInPandas(_mg_partial(capacity), schema=summary_schema)
    )
    totals = summaries.agg(F.sum("rows_seen").alias("n")).collect()[0]
    n_total = int(totals["n"] or 0)

    from .windows import running_totals

    def ranked_topk(counts: DataFrame) -> DataFrame:
        # TakeOrdered (orderBy+limit) keeps the sort k-bounded per partition;
        # ranks on the k-row frame are a row_number over it.
        # (n desc, v asc) totally orders: v is distinct.
        lim = counts.orderBy(F.desc("n"), F.asc("v")).limit(k)
        return running_totals(
            lim, None, [("n", "desc"), ("v", "asc")], rank_col="rank"
        ).select(
            F.col("v").alias("value"),
            F.col("n").cast("long").alias("n"),
            F.col("rank").cast("long").alias("rank"),
        )

    if n_total == 0:
        return src.limit(0).select(
            F.col("v").alias("value"),
            F.lit(0).cast("long").alias("n"),
            F.lit(0).cast("long").alias("rank"),
        )
    candidates = summaries.filter(F.col("v").isNotNull()).select("v").distinct()

    exact = (
        src.join(F.broadcast(candidates), "v", "left_semi")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    topk = ranked_topk(exact)  # k-row frame persisted inside ranked_topk
    rows = topk.count()
    kth = (
        topk.agg(F.min("n").alias("kth")).collect()[0]["kth"] if rows else 0
    )
    # certificate: a value absent from every summary has global count
    # <= N/(capacity+1); the k-th candidate must clear that bound STRICTLY
    # (an exact tie could still displace it under the value tie-break)
    if rows >= k and kth * (capacity + 1) > n_total:
        return topk
    # flat data at this capacity (or fewer than k certified candidates):
    # fall back to the plain exact plan
    full = src.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    return ranked_topk(full)


def frequent_items_sql(col: str, from_sql: str, k: int = 10) -> str:
    """DuckDB mirror: the plain exact top-k with the same deterministic
    (count desc, value asc) tie-break and the same NULL exclusion — the
    oracle for both the certified fast path and the fallback (they must
    agree by construction)."""
    return f"""
SELECT value, n, rank FROM (
  SELECT {col} AS value, CAST(count(*) AS BIGINT) AS n,
         CAST(row_number() OVER (ORDER BY count(*) DESC, {col} ASC) AS BIGINT)
           AS rank
  FROM {from_sql} WHERE {col} IS NOT NULL GROUP BY {col}
) WHERE rank <= {k}
"""


__all__ = ["frequent_items", "frequent_items_sql", "DEFAULT_CAPACITY"]


def copurchase_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_item_support: int = 2,
    min_pair_support: int = 2,
    max_basket_size: int | None = 1000,
) -> DataFrame:
    """Frequent co-occurring item pairs with lift — the market-basket /
    co-occurrence miner (a-priori pruned to pairs): which items appear in
    the same basket more often than their individual popularities predict.

    Per pair (a < b): n_ab baskets containing both, n_a/n_b individual
    basket counts, lift = n * n_ab / (n_a * n_b) (computed as an exact
    integer ratio then one float division), jaccard = n_ab/(n_a+n_b-n_ab)
    (exact rational). Pairs and items below their support floors drop.

    Scale shape: the basket self-join is keyed on the basket id, so the
    pair blow-up is bounded by the LARGEST BASKET squared, not the corpus:
    sum_b |b|^2 total join rows. Two guards keep that honest at 100 TB —
    (1) a-priori: items below ``min_item_support`` are pruned BEFORE the
    pair join (no pair can reach min_pair_support >= min_item_support
    through an infrequent member, so the output is unchanged — the classic
    downward-closure cut); (2) ``max_basket_size``: baskets larger than the
    ceiling are EXCLUDED entirely (a 10^5-item basket is a crawler/bot
    cart, not a co-purchase signal, and would alone contribute 10^10 join
    rows; exclusion is deterministic and engine-independent — set None to
    disable). Item counts are taken AFTER both guards so lift's n_a/n_b
    stay consistent with the surviving pair universe.

    Exchange budget (the whole frame is keyed on ``bk`` once and every
    bk-keyed step reuses that partitioning): one hash exchange on ``bk``
    carries the per-basket dedup, the basket-size guard join, the basket
    count AND both sides of the pair self-join; the only other exchanges
    are the item-frequency groupBy (keyed on ``it`` — a different key, so
    fundamental) and the final (ia, ib) pair aggregate. The a-priori
    keep-set doubles as the support table: pruning rows by a keep-set of
    ITEMS cannot change a surviving item's own basket count, so
    ``supports`` IS the keep frame — the separate post-prune support
    aggregation the first cut ran was a provably-identical recompute."""
    from ..operators.caching import scoped_persist

    items = (
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        )
        .where(F.col("bk").isNotNull() & F.col("it").isNotNull())
        # one exchange on bk; the (bk, it) dedup needs only same-bk rows
        # co-located (hash on bk satisfies the aggregate's clustering
        # requirement), and everything downstream keyed on bk — size guard,
        # basket count, pair self-join — then reuses this partitioning
        # instead of re-shuffling
        .repartition("bk")
        .dropDuplicates(["bk", "it"])
    )
    if max_basket_size is not None:
        sizes = items.groupBy("bk").agg(F.count(F.lit(1)).alias("__bsz"))
        items = items.join(
            sizes.where(F.col("__bsz") <= max_basket_size).select("bk"), "bk"
        )
    # a-priori prune: infrequent items can't appear in a frequent pair
    freq = items.groupBy("it").agg(F.count(F.lit(1)).cast("long").alias("c"))
    keep = freq.where(F.col("c") >= min_item_support)
    # no broadcast hint on the keep-set: its cardinality is the corpus's
    # frequent-item count (unbounded at 100 TB), so the decision belongs to
    # AQE's exact runtime stats — which at any sane catalog size converts
    # this to a broadcast join and keeps the bk partitioning flowing into
    # the pair self-join below
    items = scoped_persist(
        items.join(keep.select("it"), "it").select("bk", "it")
    )
    # keep-set == post-prune supports (see docstring): no second aggregate
    supports = keep
    n_baskets = items.select("bk").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = items.select("bk", F.col("it").alias("ia"))
    b = items.select("bk", F.col("it").alias("ib"))
    pairs = (
        a.join(b, "bk")
        .where(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= min_pair_support)
    )
    out = (
        pairs.join(supports.select(F.col("it").alias("ia"), F.col("c").alias("n_a")), "ia")
        .join(supports.select(F.col("it").alias("ib"), F.col("c").alias("n_b")), "ib")
        .crossJoin(F.broadcast(n_baskets))
    )
    dec = "decimal(38,0)"
    lift_num = F.col("n").cast(dec) * F.col("n_ab").cast(dec)
    lift_den = F.col("n_a").cast(dec) * F.col("n_b").cast(dec)
    return out.select(
        F.col("ia").alias("item_a"),
        F.col("ib").alias("item_b"),
        "n_ab",
        "n_a",
        "n_b",
        F.round(lift_num.cast("double") / lift_den.cast("double"), 6).alias("lift"),
        F.round(
            F.col("n_ab").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_ab")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def copurchase_pairs_sql(
    rows_sql: str,
    min_item_support: int = 2,
    min_pair_support: int = 2,
    max_basket_size: int | None = 1000,
) -> str:
    """Generated DuckDB mirror of ``copurchase_pairs``: expects ``rows_sql``
    to yield (bk, it); same guards, same exact-integer lift algebra."""
    size_filter = (
        f"""
, sized AS (SELECT bk FROM items0 GROUP BY bk
            HAVING count(*) <= {max_basket_size})
, items1 AS (SELECT items0.bk, items0.it FROM items0
             JOIN sized ON items0.bk = sized.bk)
"""
        if max_basket_size is not None
        else ", items1 AS (SELECT bk, it FROM items0)"
    )
    return f"""
WITH rows_in AS ({rows_sql}),
items0 AS (SELECT DISTINCT bk, it FROM rows_in
           WHERE bk IS NOT NULL AND it IS NOT NULL)
{size_filter},
keep AS (SELECT it FROM items1 GROUP BY it
         HAVING count(*) >= {min_item_support}),
items AS (SELECT items1.bk, items1.it FROM items1
          JOIN keep ON items1.it = keep.it),
supports AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY it),
nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n FROM items),
pairs AS (
  SELECT a.it AS ia, b.it AS ib, CAST(count(*) AS BIGINT) AS n_ab
  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
  GROUP BY a.it, b.it
  HAVING count(*) >= {min_pair_support}
)
SELECT p.ia AS item_a, p.ib AS item_b, p.n_ab,
       sa.c AS n_a, sb.c AS n_b,
       round(CAST(CAST(nb.n AS DECIMAL(38,0)) * CAST(p.n_ab AS DECIMAL(38,0))
                  AS DOUBLE)
             / CAST(CAST(sa.c AS DECIMAL(38,0)) * CAST(sb.c AS DECIMAL(38,0))
                    AS DOUBLE), 6) AS lift,
       round(CAST(p.n_ab AS DOUBLE)
             / CAST(sa.c + sb.c - p.n_ab AS DOUBLE), 6) AS jaccard
FROM pairs p
JOIN supports sa ON p.ia = sa.it
JOIN supports sb ON p.ib = sb.it
CROSS JOIN nb
"""
