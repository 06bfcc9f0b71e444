"""End-to-end corpus curation: the composition the individual llm/ operators
exist for — raw documents in, deduplicated/filtered/split training shards
out, with audit counts at every stage.

Stage order is the cost-aware one for 100 TB:
  1. scan-local FILTER first (quality/length/lang/repetition — zero shuffle,
     drops the junk before anything pays a shuffle for it);
  2. EXACT dedup second (one cheap hash-groupBy, removes the bulk of
     duplication before the expensive near-dup pass sees it);
  3. NEAR-DUP collapse third (banded MinHash-LSH + connected components,
     keeping each group's canonical doc — smallest surviving id);
  4. deterministic train/val SPLIT (md5 fold — stable across re-runs);
  5. SHARD WRITE (md5-stable assignment, sorted content, bounded files).

Every stage emits its row count into the returned stats so a re-run is
auditable stage by stage; all counts come from the frames the write itself
consumes (no second pipeline execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .curation import train_val_split
from .dedup import canonical_groups, exact_dedup, minhash_lsh_pairs
from .textanalysis import language_id, quality_score, token_stats


def curation_stage_frames(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 10,
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en", "und"),
    jaccard_threshold: float = 0.8,
    val_fraction: float = 0.1,
) -> dict[str, DataFrame]:
    """Stages 1-4 of the curation chain as NAMED FRAMES — the single
    definition both ``curate_corpus`` (counts + shard write) and the
    ``curate_corpus_stats`` gate query consume, so the oracle-checked
    chain IS the shipped chain. Keys: input, after_filter,
    after_exact_dedup, after_near_dedup, final (with the split column).

    The shared prefixes (``after_filter``, ``after_exact_dedup``,
    ``after_near_dedup``) come back ``scoped_persist``-ed BY this function:
    every stage from exact dedup on has at least two consumers (the next
    stage plus the caller's audit count), and the LSH stage additionally
    runs its broadcast-gate estimate eagerly at CONSTRUCTION time
    (dedup.py::minhash_lsh_pairs) — a persist added by the caller after
    this function returns would come too late to stop that estimate from
    re-deriving the whole prefix. Pinning here is what makes
    ``curate_corpus`` single-pass; the pins live until the enclosing
    ``cache_scope()`` exits, or until the next registry query."""
    from ..operators.caching import scoped_persist
    from ..operators.scale import widen_scan

    out: dict[str, DataFrame] = {"input": docs}

    # 1. scan-local filter. The quality/language/token expressions are
    # interpreted higher-order folds over every row, and they run in the
    # SCAN stage — widen a narrow input first (no-op on wide production
    # scans) so the per-row cost spreads across the session instead of one
    # task (operators/scale.py::widen_scan). Everything downstream (the
    # persisted stage frames, the LSH signature pipeline) inherits the
    # widened partitioning.
    docs_wide = widen_scan(docs, id_col)
    kept = docs_wide.filter(
        (token_stats(text_col)["n_words"] >= min_words)
        & (quality_score(text_col) >= min_quality)
        & language_id(text_col).isin(*languages)
    )
    kept = scoped_persist(kept)
    out["after_filter"] = kept

    # 2. exact dedup: keep each content hash's canonical (minimum) id
    exact = exact_dedup(kept, text_col, id_col)
    kept = scoped_persist(
        kept.join(
            exact.select(F.col("canonical_id").alias(id_col)), id_col, "inner"
        )
    )
    out["after_exact_dedup"] = kept

    # 3. near-dup collapse: LSH pairs -> connected components -> keep the
    # canonical (minimum-id) member of every group
    pairs = minhash_lsh_pairs(
        kept, text_col, id_col,
        n_hashes=32, bands=16, jaccard_threshold=jaccard_threshold,
    )
    groups = canonical_groups(kept, pairs.select("id_a", "id_b"), id_col)
    dropped = groups.filter(F.col(id_col) != F.col("canonical_id")).select(id_col)
    kept = scoped_persist(kept.join(dropped, id_col, "left_anti"))
    out["after_near_dedup"] = kept

    # 4. deterministic split
    out["final"] = kept.withColumn("split", train_val_split(id_col, val_fraction))
    return out


def curate_corpus(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 10,
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en", "und"),
    jaccard_threshold: float = 0.8,
    val_fraction: float = 0.1,
    n_shards: int = 4,
) -> dict:
    """Run the five-stage curation over ``docs`` and write training shards
    to ``out_dir``. Returns per-stage counts + the writer's shard layout.

    SINGLE-PASS accounting: every stage's lineage executes exactly once —
    the audit counts never re-run the chain. Two mechanisms:

    * the raw-input count rides the FILTER pass as an Observation (an
      accumulator-backed side metric of the cache-materializing action), so
      the input scan is never repeated just to count it — at 100 TB the
      alternative is a second full corpus read;
    * the three stage frames come back ``scoped_persist``-ed from
      ``curation_stage_frames`` (pinned BEFORE the LSH stage's eager
      broadcast-gate estimate runs — see its docstring), so each
      ``.count()`` materializes its own stage once and every downstream
      consumer — including the LSH + connected-components pass and the
      shard write — reads the cache instead of re-deriving the prefix. The
      split histogram likewise rides the already-shuffled shard-count
      aggregate inside ``write_training_shards`` (split is a deterministic
      md5 fold of the id, so recomputing the column on the cached frame is
      free).

    ``tests/test_llm_ops.py::test_curate_corpus_single_pass`` pins the
    guarantee with an accumulator on the input: exactly one computation of
    every input row across the whole five-stage run.
    """
    from pyspark.sql import Observation

    from ..sinks.shards import write_training_shards

    obs_in = Observation()
    frames = curation_stage_frames(
        docs.observe(obs_in, F.count(F.lit(1)).alias("n")),
        text_col, id_col, min_words, min_quality, languages,
        jaccard_threshold, val_fraction,
    )
    stats: dict = {"after_filter": frames["after_filter"].count()}
    # the filter pass above materialized the cache THROUGH the observe node,
    # so the input count is already collected — no separate input scan
    stats = {
        "input_rows": int(obs_in.get["n"]),
        **stats,
        "after_exact_dedup": frames["after_exact_dedup"].count(),
        "after_near_dedup": frames["after_near_dedup"].count(),
    }
    final = frames["final"]

    # 5. shard write; the split histogram folds over the per-(shard, split)
    # counts the writer aggregates anyway
    shards = write_training_shards(
        final, out_dir, id_col, n_shards=n_shards, count_by=["split"]
    )
    split_counts: dict = {}
    for (_shard, split), c in shards.pop("rows_per_shard_split").items():
        split_counts[split] = split_counts.get(split, 0) + c
    stats["split"] = split_counts
    stats["shards"] = shards
    return stats
