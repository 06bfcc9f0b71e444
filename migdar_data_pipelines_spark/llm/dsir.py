"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling"), the
published recipe for picking pretraining data that LOOKS LIKE a target
domain: score every raw document by the log importance weight of its
hashed n-gram features under two bag-of-n-grams models (target p vs raw
q), then resample with Gumbel-top-k.

Engine-exact by construction, the house conventions throughout:

  * features — unigrams + adjacent bigrams of lowercased whitespace
    words, hashed into ``n_buckets`` via the portable md5 fold
    (``curation.md5_bucket``), so both engines compute identical buckets;
  * models — add-one-smoothed bucket frequencies:
    ``ln((count[b] + 1) / (total + n_buckets))``; the log-likelihood
    ratio is evaluated at the FEATURE ROW with the raw integer counts, so
    the only floats are the final ln's;
  * resampling — the Gumbel key uses a DETERMINISTIC uniform derived
    from the doc id's md5 (``u = (md5_bucket(id) + 0.5) / 16^6``), so
    "random" selection is stable across runs, partitionings, and engines
    — the same trick as ``deterministic_sample``; keys are rounded to
    6dp before ranking (id tie-break) so cross-engine float drift cannot
    flip the top-k boundary.

Shape at scale (the unigram_lm_scores pattern): one feature explode
(2 rows per word), two map-side-combinable bucket histograms (n_buckets
rows each — broadcast), the feature rows joined against the broadcast
log-ratio table, one per-doc sum, and a TakeOrdered top-k for the keep
set (never a global sort). 100 TB raw corpus + bounded target: every
scan is one pass; nothing corpus-sized is collected or broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .curation import md5_bucket, md5_bucket_sql
from .textanalysis import WORDS_SQL, words

#: md5 hex digits hashed per feature gram (16^4 = 65536 raw space, folded
#: into n_buckets) and per doc id for the Gumbel uniform (16^6 space).
FEAT_HEX_DIGITS = 4
GUMBEL_HEX_DIGITS = 6


def _feature_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, bucket) per feature OCCURRENCE: unigrams + adjacent bigrams of
    lowercased words, md5-folded. One explode; the bigram zip references
    the lowered array built in a projection below the explode (the
    CollapseProject re-run trap)."""
    ws = df.select(
        F.col(id_col).alias("id"),
        F.transform(words(text_col), F.lower).alias("__ws"),
    )
    n = F.size("__ws")
    bigrams = F.zip_with(
        F.col("__ws"),
        F.slice(F.col("__ws"), 2, F.greatest(n - 1, F.lit(1))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(
        F.col("__ws"), F.slice(bigrams, 1, F.greatest(n - 1, F.lit(0)))
    )
    return ws.select("id", F.explode(grams).alias("gram"))


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
) -> DataFrame:
    """Per raw-doc DSIR log importance weight: sum over the doc's hashed
    n-gram feature occurrences of ``ln p_target(b) - ln q_raw(b)`` under
    add-one smoothing. Returns (id, n_feats, log_weight[4dp])."""
    from ..operators.caching import scoped_persist

    bucket = F.pmod(md5_bucket("gram", FEAT_HEX_DIGITS), F.lit(n_buckets)).cast(
        "long"
    )
    # raw feature rows feed both the q model and the scoring join
    raw_feats = scoped_persist(
        _feature_rows(raw, text_col, id_col).select("id", bucket.alias("b"))
    )
    tgt_feats = _feature_rows(target, text_col, id_col).select(
        "id", bucket.alias("b")
    )

    def model(feats: DataFrame, cnt: str, tot: str) -> DataFrame:
        counts = feats.groupBy("b").agg(F.count(F.lit(1)).alias(cnt))
        total = counts.agg(F.sum(cnt).alias(tot))
        return counts.crossJoin(F.broadcast(total))

    q = model(raw_feats, "cq", "totq")
    p = model(tgt_feats, "cp", "totp")
    # totals must reach every feature row even where a model has no bucket
    # row — carry them via one broadcast 1-row frame each
    totq = F.broadcast(q.select("totq").limit(1))
    totp = F.broadcast(p.select("totp").limit(1))
    scored = (
        raw_feats.join(F.broadcast(q.select("b", "cq")), "b", "left")
        .join(F.broadcast(p.select("b", "cp")), "b", "left")
        .crossJoin(totq)
        .crossJoin(totp)
        .withColumn(
            "llr",
            F.log(
                (F.coalesce("cp", F.lit(0)) + 1)
                / (F.col("totp") + F.lit(n_buckets))
            )
            - F.log(
                (F.coalesce("cq", F.lit(0)) + 1)
                / (F.col("totq") + F.lit(n_buckets))
            ),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_feats"),
        (F.round(F.sum("llr"), 4) + F.lit(0.0)).alias("log_weight"),
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 512,
    top_k: int = 100,
) -> DataFrame:
    """DSIR selection: Gumbel-top-k over the log weights with the
    deterministic md5 uniform. Returns every raw doc as
    (id, n_feats, log_weight, sample_key[6dp], keep) — ``keep`` marks the
    top_k by (sample_key desc, id asc), chosen via TakeOrdered + a
    broadcast semi-join, never a global sort. EVERY raw doc really means
    every: a doc with zero whitespace words has no feature rows, so the
    weight aggregate would drop it — it re-enters via a left join with
    (n_feats=0, log_weight=0.0): an importance weight of exactly 1,
    eligible for sampling on its Gumbel noise alone."""
    w0 = dsir_log_weights(raw, target, text_col, id_col, n_buckets)
    w = (
        raw.select(F.col(id_col).alias("id"))
        .join(w0, "id", "left")
        .select(
            "id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
        )
    )
    u = (md5_bucket("id", GUMBEL_HEX_DIGITS) + F.lit(0.5)) / F.lit(
        float(16**GUMBEL_HEX_DIGITS)
    )
    keyed = w.withColumn(
        "sample_key",
        F.round(F.col("log_weight") - F.log(-F.log(u)), 6) + F.lit(0.0),
    )
    top = (
        keyed.orderBy(F.desc("sample_key"), F.asc("id"))
        .limit(top_k)
        .select(F.col("id").alias("__kid"))
    )
    return (
        keyed.join(
            F.broadcast(top), keyed["id"] == F.col("__kid"), "left"
        )
        .withColumn("keep", F.col("__kid").isNotNull())
        .drop("__kid")
    )


def dsir_sql(
    raw_sql: str,
    target_sql: str,
    n_buckets: int = 512,
    top_k: int = 100,
) -> str:
    """Generated DuckDB mirror of ``dsir_sample`` (single-source-of-truth
    rule: bucket folds via ``md5_bucket_sql``, identical smoothing
    arithmetic, identical Gumbel construction). ``raw_sql`` /
    ``target_sql`` must yield ``(id, text)``."""
    fold = md5_bucket_sql("gram", FEAT_HEX_DIGITS)
    gfold = md5_bucket_sql("id", GUMBEL_HEX_DIGITS)
    feats = """
  SELECT id, unnest(list_concat(
           ws,
           CASE WHEN len(ws) > 1
                THEN list_transform(generate_series(1, len(ws) - 1),
                     i -> ws[i] || ' ' || ws[i + 1])
                ELSE [] END)) AS gram
  FROM (SELECT id,
               list_transform({words_sql}, x -> lower(x)) AS ws
        FROM ({src}))
""".replace("{words_sql}", WORDS_SQL.format(col="text"))
    return f"""
WITH rawfeats AS (
  SELECT id, {fold} % {n_buckets} AS b FROM ({feats.format(src=raw_sql)})
),
tgtfeats AS (
  SELECT id, {fold} % {n_buckets} AS b FROM ({feats.format(src=target_sql)})
),
q AS (SELECT b, CAST(count(*) AS BIGINT) AS cq FROM rawfeats GROUP BY b),
p AS (SELECT b, CAST(count(*) AS BIGINT) AS cp FROM tgtfeats GROUP BY b),
totq AS (SELECT CAST(count(*) AS BIGINT) AS totq FROM rawfeats),
totp AS (SELECT CAST(count(*) AS BIGINT) AS totp FROM tgtfeats),
scored AS (
  SELECT f.id,
         ln((coalesce(p.cp, 0) + 1) / CAST(totp.totp + {n_buckets} AS DOUBLE))
         - ln((coalesce(q.cq, 0) + 1) / CAST(totq.totq + {n_buckets} AS DOUBLE))
           AS llr
  FROM rawfeats f
  LEFT JOIN q ON f.b = q.b
  LEFT JOIN p ON f.b = p.b
  CROSS JOIN totq CROSS JOIN totp
),
w AS (
  SELECT id, CAST(count(*) AS BIGINT) AS n_feats,
         round(sum(llr), 4) + CAST(0 AS DOUBLE) AS log_weight
  FROM scored GROUP BY id
),
wfull AS (
  SELECT r.id, coalesce(w.n_feats, 0) AS n_feats,
         coalesce(w.log_weight, CAST(0 AS DOUBLE)) AS log_weight
  FROM (SELECT id FROM ({raw_sql})) r LEFT JOIN w USING (id)
),
keyed AS (
  SELECT id, n_feats, log_weight,
         round(log_weight
               - ln(-ln(({gfold} + 0.5) / {float(16**GUMBEL_HEX_DIGITS)})), 6)
           + CAST(0 AS DOUBLE) AS sample_key
  FROM wfull
),
ranked AS (
  SELECT keyed.*,
         row_number() OVER (ORDER BY sample_key DESC, id) AS rk
  FROM keyed
)
SELECT id, n_feats, log_weight, sample_key, (rk <= {top_k}) AS keep
FROM ranked
"""
