"""Streaming corpus curation — the ``foreachBatch`` incremental form of the
batch curation chain (llm/pipeline.py::curation_stage_frames), closing the
loop between the repo's batch-curation and streaming layers (VERDICT r12 #7):
documents arrive continuously; each micro-batch is FILTERED scan-locally,
exact-deduped and near-dup-probed against the STANDING INDEX of everything
that arrived before it, and the admitted corpus grows append-only — the
production shape at 100 TB, where yesterday's corpus is never re-deduped and
today's feed probes it (llm/dedup.py::incremental_dedup's contract, run
per-microbatch instead of per-day).

Semantics (split-invariant, the parity surface): a document's verdict
depends only on STRICTLY-EARLIER (by the order column) FILTERED documents —
never on micro-batch boundaries:

  * dup_exact — an earlier filtered doc has the same content md5;
  * near_dup  — an earlier filtered doc verifies at shingle-Jaccard >=
    threshold (exact copies count here too: identical shingle sets);
  * admitted  — passed the filter and neither flag fired.

Index policy: the index admits EVERY filtered doc, flagged duplicates
included. That is what makes the verdict non-recursive (no "kept iff no
earlier KEPT collides" chain, whose greedy selection would couple verdicts
across a micro-batch) and therefore independent of how the stream is split —
the stream equals its batch replay row-for-row, which is exactly what the
registered query's oracle recomputes. A dup-of-a-dup still flags against the
nearest earlier member rather than only the canonical — a superset of the
canonical-only flags.

Delivery contract (same as streaming/stateful.py's order-monotonic family):
rows are ordered by the id column within each micro-batch and an earlier id
never arrives in a later batch.

Scale shape per micro-batch: the filter is scan-local; within-batch exact
dedup is a map-side-combinable min-per-hash groupBy; within-batch near-dup
is the banded-LSH pair machinery over the increment only; the cross-index
probe broadcasts the (small) increment against the standing band table, so
the index is never shuffled (incremental_dedup). State lives in parquet —
the write-once/probe-many layout — not in executor memory, so it survives
restarts with the checkpoint and its size is disk-bounded, not heap-bounded.

One broadcast gate per pair pass, per micro-batch: the within-batch LSH
pass and the cross-index probe each persist and count THIS batch's
candidates (llm/dedup.py::_verify_hints) against the module ceilings
before choosing broadcast joins. No gate decision or other state is
carried from one batch to the next in the driver, so a batch whose
candidate count jumps is gated on its own count.

Replay idempotence (ADVICE r13 / VERDICT r13 #2): ``foreachBatch`` is
at-least-once, so both sinks are keyed by ``batch_id`` — each micro-batch
OVERWRITES its own ``batch_id=N`` partition directory in ``out_dir`` and
``index_dir``, and the standing-index read prunes to ``batch_id < N``. A
crash between the index append and the checkpoint commit therefore replays
into the SAME directories with the SAME standing index (the batch's own
partition is pruned out of its probe, so it never self-flags), producing
byte-identical state to a crash-free run — the kill-mid-drain test
(tests/test_round14_ops.py) asserts drained output equality row-for-row.
The index probe discovers prior state with the Hadoop ``FileSystem`` of
the session's configuration (``exists`` before any read), not driver-local
os.listdir, so the layout works on any Hadoop-visible filesystem (HDFS/S3),
not just POSIX paths, and the first batch reads no missing path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def curation_filter(
    text_col: str,
    min_words: int = 10,
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en", "und"),
) -> F.Column:
    """The batch chain's stage-1 predicate (curation_stage_frames), shared
    so the stream filters with the SAME expression the batch form uses."""
    from ..llm.textanalysis import language_id, quality_score, token_stats

    return (
        (token_stats(text_col)["n_words"] >= min_words)
        & (quality_score(text_col) >= min_quality)
        & language_id(text_col).isin(*languages)
    )


def curate_batch_verdict(
    filtered: DataFrame,
    index: DataFrame | None,
    jaccard_threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 16,
    max_bucket_size: int | None = None,
    index_state: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    batch_state: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """One micro-batch's verdict frame — the plan the stream runs per
    trigger, factored out so it is explainable/testable as batch code
    (``filtered``: (id, text) rows that passed the stage-1 filter;
    ``index``: the standing (id, text) corpus, or None on the first batch).

    ``index_state`` (hashes, bands, texts) routes the cross-index probe
    through the PERSISTED probe tables
    (llm/dedup.py::incremental_dedup_prepared) instead of re-shingling the
    raw index — bit-identical output, O(batch) compute per micro-batch
    instead of O(index); the streaming entry point maintains that state and
    always passes it. The raw-``index`` form stays as the semantics
    reference (and the from-scratch oracle shape).

    ``batch_state`` (hashes, base, band_rows) likewise supplies the BATCH's
    own probe frames — the (id, h) md5 frame plus the persisted
    (id, shingles)/(id, bucket) pair from ``_shingle_band_frames`` — so the
    streaming entry point, which also writes those frames as the batch's
    persisted probe state, computes the shingle/signature pipeline exactly
    once per micro-batch instead of once per consumer (within-batch LSH,
    cross-index probe, state write). Bit-identical output: the frames are
    the same deterministic fixed-salt construction the raw-text form
    builds internally.

    Both pair passes (within-batch LSH and the cross-index probe) decide
    their broadcast joins from this batch's own candidate counts
    (llm/dedup.py::_verify_hints); nothing is carried between calls.

    Returns (id, dup_exact, near_dup, admitted)."""
    from ..llm.dedup import (
        incremental_dedup,
        incremental_dedup_prepared,
        minhash_lsh_pairs,
    )

    from pyspark.sql import Window

    b_hashes = b_frames = None
    if batch_state is not None:
        b_hashes, b_base, b_bands = batch_state
        b_frames = (b_base, b_bands)

    # within-batch exact tier: first (min-id) holder of each md5 is clean;
    # later holders flag. One window over the hash partition — a single
    # exchange of the batch rows, where the groupBy(min)+join form paid the
    # aggregate exchange AND a second shuffle of the rows into the join
    # (guide §2.4); min-per-partition is the same value the join delivered.
    h = (
        b_hashes.select("id", F.col("h").alias("__h"))
        if b_hashes is not None
        else filtered.select("id", F.md5("text").alias("__h"))
    )
    exact_b = h.select(
        "id",
        (
            F.col("id")
            != F.min("id").over(Window.partitionBy("__h"))
        ).alias("dup_exact_b"),
    )
    # within-batch near tier: banded LSH pairs (id_a < id_b), the later
    # side of every verified pair flags.
    pairs = minhash_lsh_pairs(
        filtered, "text", "id",
        n_hashes=n_hashes, bands=bands, k=3,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=max_bucket_size,
        frames=b_frames,
    )
    near_b = (
        pairs.select(F.col("id_b").alias("id"))
        .distinct()
        .withColumn("near_b", F.lit(True))
    )
    verdict = (
        exact_b.join(near_b, "id", "left")
        .withColumn("near_b", F.coalesce("near_b", F.lit(False)))
    )
    # cross-index probe: exact hash hit + banded near hit against the
    # standing corpus (batch side broadcast; index unshuffled)
    if index_state is not None:
        i_hashes, i_bands, i_texts = index_state
        inc = incremental_dedup_prepared(
            filtered, i_hashes, i_bands, i_texts, "text", "id",
            n_hashes=n_hashes, bands=bands, k=3,
            jaccard_threshold=jaccard_threshold,
            max_index_bucket=max_bucket_size,
            batch_frames=b_frames,
            batch_hashes=b_hashes,
        )
        verdict = verdict.join(
            inc.select(
                "id",
                F.col("dup_exact").alias("dup_exact_i"),
                (F.col("n_near_index") > 0).alias("near_i"),
            ),
            "id",
        )
    elif index is not None:
        inc = incremental_dedup(
            filtered, index, "text", "id",
            n_hashes=n_hashes, bands=bands, k=3,
            jaccard_threshold=jaccard_threshold,
            max_index_bucket=max_bucket_size,
        )
        verdict = verdict.join(
            inc.select(
                "id",
                F.col("dup_exact").alias("dup_exact_i"),
                (F.col("n_near_index") > 0).alias("near_i"),
            ),
            "id",
        )
    else:
        verdict = verdict.withColumn("dup_exact_i", F.lit(False)).withColumn(
            "near_i", F.lit(False)
        )
    return verdict.select(
        "id",
        (F.col("dup_exact_b") | F.col("dup_exact_i")).alias("dup_exact"),
        (F.col("near_b") | F.col("near_i")).alias("near_dup"),
    ).withColumn("admitted", ~F.col("dup_exact") & ~F.col("near_dup"))


def streaming_curate(
    docs_stream: DataFrame,
    checkpoint_dir: str,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    min_quality: float = 0.5,
    languages: tuple[str, ...] = ("en", "und"),
    jaccard_threshold: float = 0.8,
    n_hashes: int = 32,
    bands: int = 16,
    max_bucket_size: int | None = None,
    query_name: str = "curate_stream",
    _fault_after_batch=None,
) -> None:
    """Drain ``docs_stream`` (Trigger.AvailableNow) through the incremental
    curation pipeline: verdict rows append to ``out_dir`` parquet, the
    filtered index appends to ``index_dir`` parquet. One row per FILTERED
    doc: (id, dup_exact, near_dup, admitted).

    ``max_bucket_size=None`` (the default here) lifts the LSH hot-bucket
    ceilings on BOTH the within-batch pair pass and the index probe — this
    entry point is the exact/parity surface; a production deployment passes
    the bounded default (llm/dedup.py::MAX_LSH_BUCKET_SIZE), accepting the
    documented lower-bound semantics on >ceiling template clusters.

    Each micro-batch is decided on its own: the callback keeps no state
    between batches beyond the parquet it writes, and both pair passes
    count the batch's own candidates for their broadcast gates.

    ``_fault_after_batch`` is a test-only seam: called with ``batch_id``
    after both sink writes but BEFORE the checkpoint commits — raising from
    it simulates the worst at-least-once crash point (state written, commit
    lost), which the restart must replay idempotently."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..llm.dedup import _shingle_band_frames
    from ..operators.caching import cache_scope, scoped_persist

    # Per-DRAIN constants, hoisted out of the per-batch callback: the filter
    # predicate and projection Columns are pure expression trees rebuilt
    # identically every micro-batch otherwise (measured as part of the
    # ~1.3-2.7s/batch driver-side plan-build gap, VERDICT r14 #1), and the
    # state-table schemas are known by construction — passing them to the
    # per-batch reads skips the footer-inference pass per read.
    filter_col = curation_filter(text_col, min_words, min_quality, languages)
    proj_cols = (F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    id_type = docs_stream.schema[id_col].dataType
    bid_field = StructField("batch_id", IntegerType())
    index_schema = StructType(
        [StructField("id", id_type), StructField("text", StringType()), bid_field]
    )
    hashes_schema = StructType(
        [StructField("id", id_type), StructField("h", StringType()), bid_field]
    )
    bands_schema = StructType(
        [StructField("id", id_type), StructField("bucket", LongType()), bid_field]
    )
    jvm = docs_stream.sparkSession._jvm
    hadoop_conf = docs_stream.sparkSession._jsc.hadoopConfiguration()

    def _exists(path: str) -> bool:
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(hadoop_conf).exists(p)

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        spark = bdf.sparkSession
        # Every frame the batch persists — here and inside the verdict's
        # LSH machinery — is unpersisted when the batch's scope exits, so a
        # long drain's footprint stays one batch, not the whole stream.
        with cache_scope():
            filtered = scoped_persist(bdf.filter(filter_col).select(*proj_cols))
            # The batch's probe frames — (id, h) md5, persisted (id,
            # shingles) and (id, bucket) band rows — are built ONCE here and
            # shared by every consumer: the within-batch exact tier and LSH
            # pair pass, the cross-index probe, and the per-batch state
            # writes below. (The first cut called index_probe_frames for the
            # state write and let the LSH/probe paths rebuild their own
            # frames: the batch's shingle+signature pipeline — the dominant
            # per-batch compute — ran three times per micro-batch.)
            b_hashes = filtered.select("id", F.md5("text").alias("h"))
            b_base, b_bands = _shingle_band_frames(
                filtered, "text", "id", n_hashes, bands, 3, persist=True
            )
            if filtered.limit(1).count() == 0:
                return
            # standing index = every batch COMMITTED-or-written before this
            # one; pruning to batch_id < N is what makes a replayed batch
            # see the exact pre-crash index instead of its own rows (the
            # self-flagging bug ADVICE r13 called out). Asking the Hadoop
            # FileSystem (instead of os.listdir) keeps discovery
            # filesystem-agnostic.
            # The probe runs against the PERSISTED state tables (md5 set +
            # band rows, written per batch below), so a micro-batch never
            # re-shingles the standing corpus — per-batch compute is
            # O(batch + candidates) however large the index grows (the
            # index-growth rung in SCALING.md measures exactly this).
            def _earlier(path: str, schema: StructType) -> DataFrame | None:
                if not _exists(path):
                    return None  # first batch: no state yet
                # schema known by construction (this entry point wrote it):
                # skips the per-batch footer-inference pass
                return (
                    spark.read.schema(schema)
                    .parquet(path)
                    .where(F.col("batch_id") < F.lit(batch_id))
                )
            i_texts = _earlier(index_dir, index_schema)
            if i_texts is not None and not any(
                # strictly-earlier emptiness decided from the read's own file
                # index (the partition value is in every file path), not a
                # limit(1) Spark job per micro-batch: this entry point only
                # writes non-empty batch partitions, so "some batch_id=K<N
                # file exists" is exactly "the pruned index is non-empty" —
                # and inputFiles() comes from the same Hadoop FileIndex the
                # scan uses, so the check stays filesystem-agnostic
                int(seg.split("=", 1)[1]) < batch_id
                for p in i_texts.inputFiles()
                for seg in p.split("/")
                if seg.startswith("batch_id=")
            ):
                i_texts = None
            state = None
            if i_texts is not None:
                # this entry point writes hashes/bands alongside every index
                # batch, so when the pruned index is non-empty the pruned
                # state frames are too — no per-path emptiness job needed;
                # a corpus predating the probe state (raw-index fallback)
                # has no _state directories.
                i_h = _earlier(f"{index_dir}/_state/hashes", hashes_schema)
                i_b = _earlier(f"{index_dir}/_state/bands", bands_schema)
                if i_h is not None and i_b is not None:
                    state = (i_h, i_b, i_texts.select("id", "text"))
            out = curate_batch_verdict(
                # raw-index fallback only if the corpus predates the probe
                # state (never the case for a stream this entry point wrote)
                filtered, i_texts if state is None else None,
                jaccard_threshold=jaccard_threshold,
                n_hashes=n_hashes, bands=bands,
                max_bucket_size=max_bucket_size,
                index_state=state,
                batch_state=(b_hashes, b_base, b_bands),
            )
            # idempotent per-batch sinks: a replay (at-least-once delivery
            # redelivers the identical batch under the identical batch_id —
            # the file source's WAL pins the file list) recomputes the same
            # frames and OVERWRITES its own partition, never appending twice
            # The four per-batch sinks are INDEPENDENT jobs over already-
            # pinned frames (the verdict plan's standing-index scans pinned
            # their file lists at read time and prune to batch_id < N, so
            # the concurrent index append is invisible to them), each to its
            # own directory — submit them from a small driver thread pool so
            # the later jobs' tasks back-fill executors freed by the earlier
            # jobs' tails instead of paying four sequential job latencies
            # per micro-batch. Replay idempotence is unchanged: every sink
            # OVERWRITES its own batch_id=N partition. Index growth still
            # happens AFTER the probe plan was built (a doc never probes
            # itself). Alongside the corpus, the batch's probe state (md5
            # set + band rows) persists so no later batch pays an O(index)
            # re-shingle; the underscore dir is invisible to a plain read of
            # index_dir (Spark's file index skips _-prefixed paths), so
            # index consumers still see exactly the (id, text) corpus. All
            # writes read the SHARED persisted frames — the signature
            # pipeline does not re-run per sink. The pool is ONE long-lived
            # executor per drain (created below, next to the stream start),
            # not per micro-batch: worker threads keep their py4j
            # connections for the whole drain instead of opening and
            # abandoning four fresh threads/connections every batch.
            sinks = (
                (out, f"{out_dir}/batch_id={batch_id}"),
                (filtered, f"{index_dir}/batch_id={batch_id}"),
                (b_hashes, f"{index_dir}/_state/hashes/batch_id={batch_id}"),
                (
                    b_bands.select("id", "bucket"),
                    f"{index_dir}/_state/bands/batch_id={batch_id}",
                ),
            )
            for fut in [
                pool.submit(
                    lambda df, p: df.write.mode("overwrite").parquet(p),
                    df,
                    path,
                )
                for df, path in sinks
            ]:
                fut.result()
            if _fault_after_batch is not None:
                _fault_after_batch(batch_id)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        q = (
            docs_stream.writeStream.foreachBatch(_batch)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
