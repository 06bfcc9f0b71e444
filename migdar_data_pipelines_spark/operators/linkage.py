"""Blocked record linkage: fuzzy entity matching between two tables at scale.

The reference's fuzzy layer is `split_and_translate`'s fuzzywuzzy matching of
value strings against a small translation table (search_import.py:109-133 via
operators/translate.py here) — a vocabulary shape: both the table and a
field's distinct values are small, so each value is scored once on the driver.
Record LINKAGE is the big-big form of the same problem (match customers to
customers, parts to catalog entries) where neither side broadcasts and a
cross join is impossible: the standard scale answer is blocking — a cheap
deterministic key that any true match must share — turning the fuzzy match
into an equi-join on the block key followed by an exact verify (edit
distance) inside each block.

The block key here is a phonetic-lite consonant skeleton, built from RE2-safe
regex only (no backreferences) so the DuckDB oracle can compute the identical
key: lowercase, strip everything but consonants, take the first
``BLOCK_PREFIX`` chars. It is invariant under the corruption families real
dirty data exhibits (dropped vowels, hyphen/space variation, suffix noise),
which is exactly the property a blocking key needs: candidates survive
blocking, and the verify step (levenshtein <= max_dist, identical semantics
in Spark and DuckDB) makes the final call.

Scale shape: both sides shuffle once on the block key; per-block candidate
pairs are verified with a JVM-side levenshtein — never a cross join, and the
block-size histogram (`block_histogram`) is the skew diagnostic to run before
a production pass (a degenerate key like '' would funnel everything into one
block).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOCK_PREFIX = 3

_NON_CONSONANT_RE = "[^bcdfghjklmnpqrstvwxz]"


def phonetic_block_key(col: str | Column) -> Column:
    """Consonant-skeleton prefix: lower, drop non-consonants, first 3 chars."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(
        F.regexp_replace(F.lower(c), _NON_CONSONANT_RE, ""), 1, BLOCK_PREFIX
    )


def phonetic_block_key_sql(expr: str) -> str:
    """DuckDB mirror of the block key ('g' flag: RE2 replaces once by default)."""
    return (
        f"substr(regexp_replace(lower({expr}), '{_NON_CONSONANT_RE}', '', 'g'),"
        f" 1, {BLOCK_PREFIX})"
    )


def blocked_linkage(
    left: DataFrame,
    right: DataFrame,
    name_col: str,
    id_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Match rows of ``left`` to rows of ``right`` whose names are within
    ``max_dist`` edits, candidates limited to shared phonetic blocks.

    Returns (left_id, right_id, dist) — integer-exact output, no floats.
    """
    l = left.select(
        F.col(id_col).alias("left_id"),
        F.col(name_col).alias("__ln"),
        phonetic_block_key(name_col).alias("__blk"),
    )
    r = right.select(
        F.col(id_col).alias("right_id"),
        F.col(name_col).alias("__rn"),
        phonetic_block_key(name_col).alias("__blk"),
    )
    return (
        l.join(r, "__blk")
        .withColumn("dist", F.levenshtein("__ln", "__rn"))
        .filter(F.col("dist") <= max_dist)
        .select("left_id", "right_id", F.col("dist").cast("long").alias("dist"))
    )


def block_histogram(df: DataFrame, name_col: str) -> DataFrame:
    """Block-size distribution — the pre-flight skew check: a handful of
    mega-blocks means the key is not discriminating and the per-block
    verify degenerates toward quadratic."""
    return (
        df.select(phonetic_block_key(name_col).alias("block"))
        .groupBy("block")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def golden_record(
    df: "DataFrame", cluster_col: str, attr_cols: list[str]
) -> "DataFrame":
    """Survivorship / golden-record assembly — the step AFTER record
    linkage: given clustered duplicate records, emit one merged row per
    cluster where each attribute carries the cluster's MODAL non-NULL
    value (majority vote; ties broken by smallest value — deterministic
    without a tiebreaker column). The classic MDM consolidation rule;
    the reference's pipelines stop at linkage, a real 100 TB entity store
    needs the merge.

    Shape at scale: the attributes are MELTED to (cluster, attr, value)
    rows (stack — scan-local, no shuffle), then ONE (cluster, attr,
    value) map-side-combinable count groupBy, ONE (cluster, attr)
    min(struct(-cnt, value)) groupBy (struct comparison = count DESC,
    value ASC without a window), and a pivot back over the KNOWN attr
    list (pivot with explicit values = a conditional aggregation, no
    second scan). Cluster size rides the same melt. NULL attributes
    simply don't vote; a cluster whose attribute is all-NULL yields NULL.

    All attribute values are compared as strings in the vote (melt
    requires a common type); callers re-cast numerics on the way out if
    needed — the registered query keeps cents as canonical digit strings,
    which order correctly for the tie-break only when equal-length, and
    tie-break order across different counts never matters anyway."""
    from pyspark.sql import functions as F

    melted = df.select(
        F.col(cluster_col).alias("cl"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("attr"),
                        F.col(a).cast("string").alias("val"),
                    )
                    for a in attr_cols
                ]
            )
        ).alias("kv"),
    ).select("cl", "kv.attr", "kv.val")
    counts = (
        melted.where(F.col("val").isNotNull())
        .groupBy("cl", "attr", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    winners = counts.groupBy("cl", "attr").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("val").alias("val")))
        .alias("w")
    )
    # cluster size: rows per cluster (any attr row of the melt / n_attrs)
    sizes = df.groupBy(F.col(cluster_col).alias("cl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )
    agg = winners.groupBy("cl").agg(
        *[
            F.max(F.when(F.col("attr") == a, F.col("w.val"))).alias(a)
            for a in attr_cols
        ]
    )
    return (
        agg.join(sizes, "cl")
        .select(F.col("cl").alias(cluster_col), "n_records", *attr_cols)
    )


def golden_record_sql(
    rows_sql: str, cluster_col: str, attr_cols: list[str]
) -> str:
    """Generated DuckDB mirror of ``golden_record``: same melt, same
    (-cnt, value) winner struct, same conditional-aggregation pivot."""
    melts = " UNION ALL ".join(
        f"SELECT {cluster_col} AS cl, '{a}' AS attr, CAST({a} AS VARCHAR) AS val "
        f"FROM rows_in"
        for a in attr_cols
    )
    pivots = ",\n       ".join(
        f"max(CASE WHEN attr = '{a}' THEN wval END) AS {a}" for a in attr_cols
    )
    return f"""
WITH rows_in AS ({rows_sql}),
melted AS ({melts}),
counts AS (
  SELECT cl, attr, val, CAST(count(*) AS BIGINT) AS cnt
  FROM melted WHERE val IS NOT NULL GROUP BY cl, attr, val
),
winners AS (
  SELECT cl, attr,
         min(struct_pack(neg := -cnt, val := val)).val AS wval
  FROM counts GROUP BY cl, attr
),
sizes AS (SELECT {cluster_col} AS cl, CAST(count(*) AS BIGINT) AS n_records
          FROM rows_in GROUP BY {cluster_col}),
agg AS (
  SELECT cl, {pivots}
  FROM winners GROUP BY cl
)
SELECT a.cl AS {cluster_col}, s.n_records, {', '.join('a.' + a for a in attr_cols)}
FROM agg a JOIN sizes s ON a.cl = s.cl
"""
