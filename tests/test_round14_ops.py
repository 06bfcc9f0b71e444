"""Round-14 operator tests: streaming-curate replay idempotence
(VERDICT r13 #2 / ADVICE r13 medium) and the IVF-PQ persisted/incremental
index (VERDICT r13 #5)."""

import glob
import os

import pytest
from pyspark.sql import functions as F


def _write_chunks(spark, tmp_path, chunks):
    """Write id-ordered chunk files with explicitly increasing mtimes so
    FileStreamSource delivery order matches id order (ADVICE r13)."""
    src = str(tmp_path / "src")
    stamped = set()
    for i, chunk in enumerate(chunks):
        spark.createDataFrame(chunk, "doc_id long, text string").sort(
            "doc_id"
        ).coalesce(1).write.mode("append").parquet(src)
        for p in glob.glob(f"{src}/*.parquet"):
            if p not in stamped:
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
                stamped.add(p)
    return src


CHUNKS = [
    [(1, "the quick brown fox jumps over the lazy dog and runs far away home"),
     (2, "completely different words " + "alpha beta gamma delta " * 4)],
    [(10, "the quick brown fox jumps over the lazy dog and runs far away home"),
     (11, "the quick brown fox jumps over the lazy dog and runs far away home extra"),
     (12, "the wholly novel and original of is " + "zeta eta theta iota " * 4)],
    [(20, "the quick brown fox jumps over the lazy dog and runs far away home"),
     (21, "the final and of is batch with its own fresh " + "mu nu xi omicron " * 4)],
]


def _drain(spark, tmp_path, tag, fault=None):
    from migdar_data_pipelines_spark.streaming.curate import streaming_curate

    src = _write_chunks(spark, tmp_path / tag, CHUNKS)
    base = tmp_path / tag
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    streaming_curate(
        stream,
        checkpoint_dir=str(base / "ckpt"),
        index_dir=str(base / "index"),
        out_dir=str(base / "out"),
        jaccard_threshold=0.8,
        query_name=f"t_curate_{tag}",
        _fault_after_batch=fault,
    )
    return base


def test_streaming_curate_replay_idempotent(spark, tmp_path):
    """Kill-mid-drain + restart equals a crash-free single drain: the fault
    seam raises AFTER batch 1's out+index writes land but BEFORE the
    checkpoint commits — the worst at-least-once replay point (the batch's
    own docs are already in the index on disk). The restarted query must
    redeliver batch 1 against the PRE-batch-1 index (no self-flagging) and
    must not double-append verdict rows."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from migdar_data_pipelines_spark.streaming.curate import streaming_curate

    clean = _drain(spark, tmp_path, "clean")
    ref = sorted(
        spark.read.parquet(str(clean / "out"))
        .select("id", "dup_exact", "near_dup", "admitted")
        .collect()
    )

    fired = []

    def fault(batch_id):
        if batch_id == 1 and not fired:
            fired.append(batch_id)
            raise RuntimeError("injected crash after batch-1 writes")

    src = _write_chunks(spark, tmp_path / "crash", CHUNKS)
    base = tmp_path / "crash"

    def start():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        streaming_curate(
            stream,
            checkpoint_dir=str(base / "ckpt"),
            index_dir=str(base / "index"),
            out_dir=str(base / "out"),
            jaccard_threshold=0.8,
            query_name="t_curate_crash",
            _fault_after_batch=fault,
        )

    with pytest.raises(StreamingQueryException):
        start()
    assert fired == [1]
    # batch-1 state IS on disk at the crash point — the scenario under test
    crashed_ids = {
        r["id"] for r in spark.read.parquet(str(base / "index")).collect()
    }
    assert {10, 11, 12} <= crashed_ids
    start()  # restart from the same checkpoint; fault is spent

    got = sorted(
        spark.read.parquet(str(base / "out"))
        .select("id", "dup_exact", "near_dup", "admitted")
        .collect()
    )
    assert got == ref  # no duplicate rows, no self-flagged dup_exact
    # one verdict row per filtered doc, exactly once
    ids = [r["id"] for r in got]
    assert len(ids) == len(set(ids))
    # final index = every filtered doc, exactly once, same as the clean run
    idx = spark.read.parquet(str(base / "index")).select("id", "text")
    clean_idx = spark.read.parquet(str(clean / "index")).select("id", "text")
    assert sorted(idx.collect()) == sorted(clean_idx.collect())


def test_streaming_hll_big_int64_with_nulls_matches_batch(spark, tmp_path):
    """ids above 2^53 mixed with nulls in the same micro-batch: the old
    Python-side str(int(x)) path received these through an Arrow->pandas
    float64 hop (null-mixed long columns) and canonicalized the WRONG
    decimal string; the JVM-side CAST(long AS STRING) fix (ADVICE r13)
    keeps the register fold bit-identical to the batch sketch."""
    import shutil
    import tempfile

    from migdar_data_pipelines_spark.operators.sketches import _hll_registers_by
    from migdar_data_pipelines_spark.streaming.stateful import (
        streaming_hll_distinct,
    )
    from tests.test_streaming import run_available_now

    big = 2**53  # above here float64 can't represent every integer
    rows = [("a", big + 1), ("a", big + 3), ("a", None), ("a", 17),
            ("a", big + 1)]  # dup of a >2^53 id must still dedup
    df = spark.createDataFrame(rows, "k string, uid long")
    src = str(tmp_path / "hll_big_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("k string, uid long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_hll_distinct(stream, ["k"], "uid")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        run_available_now(out, ckpt, query_name="t_shll_big", output_mode="append")
        drained = spark.table("t_shll_big")
        final = {
            r["k"]: r["regs"]
            for r in drained.groupBy("k")
            .agg(F.max_by("regs", "rows_folded").alias("regs"))
            .collect()
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)

    expected = {}
    for r in _hll_registers_by(df, ["k"], "uid").collect():
        if r["register"] is not None:  # the batch form's null-id row
            expected.setdefault(r["k"], {})[r["register"]] = r["max_rho"]
    got = {i: v for i, v in enumerate(final["a"]) if v}
    assert got == expected["a"]
    # 3 distinct non-null ids -> exactly 3 non-zero registers unless two
    # collide; with this fixture they don't, proving the two >2^53 ids
    # hashed to their own (correct) registers rather than a float-rounded
    # shared string
    assert len(got) == 3


def test_incremental_dedup_prepared_equals_raw(spark):
    """The persisted-probe-state form must be bit-identical to the raw-text
    form on the same corpus — same salts, same buckets, same verification
    shingles — with and without the hot-index-bucket ceiling."""
    from migdar_data_pipelines_spark.llm.dedup import (
        incremental_dedup,
        incremental_dedup_prepared,
        index_probe_frames,
    )

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text"
    )
    index = d.filter(F.col("doc_id") < 400)
    # batch: fresh docs + exact copies + the near-dup tail of the corpus
    batch = d.filter(F.col("doc_id") >= 400).unionByName(
        index.filter(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 10_000).alias("doc_id"), "text"
        )
    )
    i_h, i_b = index_probe_frames(index, "text", "doc_id")
    for cap in (None, 2):
        raw = sorted(
            incremental_dedup(
                batch, index, "text", "doc_id", max_index_bucket=cap
            ).collect()
        )
        prep = sorted(
            incremental_dedup_prepared(
                batch, i_h, i_b, index, "text", "doc_id", max_index_bucket=cap
            ).collect()
        )
        assert raw == prep and len(raw) > 0


# ------------------------------------------- persisted IVF-PQ index


def _refs_from(df):
    from pyspark.sql import Window

    w = Window.partitionBy("label").orderBy("vec_id")
    return [
        (r["label"], list(r["embedding"]))
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", "embedding")
        .collect()
    ]


def test_ivf_pq_incremental_equals_scratch(spark, tmp_path):
    """build(A) + incremental_add(B) against the frozen quantizer must be
    byte-identical to a from-scratch build of A∪B with the same references —
    both the stored codes and the search output (VERDICT r13 #5)."""
    from migdar_data_pipelines_spark.llm.similarity import (
        build_ivf_pq_index,
        incremental_add_ivf_pq,
        search_ivf_pq_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = e.filter(F.col("vec_id") % 2 == 0)
    b = e.filter(F.col("vec_id") % 2 == 1)
    refs = _refs_from(a)

    inc = str(tmp_path / "inc")
    build_ivf_pq_index(a, inc, refs, "vec_id")
    incremental_add_ivf_pq(spark, inc, b, "vec_id")

    scratch = str(tmp_path / "scratch")
    build_ivf_pq_index(e, scratch, refs, "vec_id")

    cols = ["cid", "cell", "scale", "code", "cv"]
    rows_inc = sorted(spark.read.parquet(f"{inc}/codes").select(cols).collect())
    rows_scr = sorted(spark.read.parquet(f"{scratch}/codes").select(cols).collect())
    assert rows_inc == rows_scr

    q = e.filter(F.col("vec_id") < 5)
    out_inc = sorted(search_ivf_pq_index(spark, inc, q, "vec_id").collect())
    out_scr = sorted(search_ivf_pq_index(spark, scratch, q, "vec_id").collect())
    assert out_inc == out_scr and len(out_inc) > 0


def test_ivf_pq_search_prunes_partitions(spark, tmp_path):
    """The probed-cell filter must reach the codes scan as a partition
    filter — non-probed cells' files are never read (the entire point of
    the cell-partitioned persisted layout)."""
    from migdar_data_pipelines_spark.llm.similarity import (
        build_ivf_pq_index,
        search_ivf_pq_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    refs = _refs_from(e)
    idx = str(tmp_path / "idx")
    build_ivf_pq_index(e, idx, refs, "vec_id")
    out = search_ivf_pq_index(
        spark, idx, e.filter(F.col("vec_id") < 2), "vec_id", k=3, nprobe=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or "cell IN" in plan.replace(
        "#", " "
    ), plan[:2000]
    assert out.count() > 0


def test_streaming_curate_verdicts_unchanged(spark, tmp_path):
    """The idempotence rework must not move the verdict semantics: same
    expectations as the round-13 cross-batch test, on the 3-chunk corpus."""
    base = _drain(spark, tmp_path, "plain")
    out = {r["id"]: r for r in spark.read.parquet(str(base / "out")).collect()}
    assert out[1]["admitted"] and not out[1]["dup_exact"]
    assert out[10]["dup_exact"] and not out[10]["admitted"]
    assert out[11]["near_dup"] and not out[11]["admitted"]
    assert out[12]["admitted"]
    assert out[20]["dup_exact"] and not out[20]["admitted"]
    assert out[21]["admitted"]


def test_streaming_curate_gates_each_batch_on_its_own_count(
    spark, tmp_path, monkeypatch
):
    """Every micro-batch counts its own candidates for the broadcast gates:
    one count in the first batch (within-batch LSH; no index yet) and two
    in each later batch (within-batch LSH and the index probe). No gate
    decision is carried over from the previous batch."""
    from migdar_data_pipelines_spark.llm import dedup

    events = []
    gate = dedup._verify_hints

    def recording_gate(*args, **kwargs):
        events.append("gate")
        return gate(*args, **kwargs)

    monkeypatch.setattr(dedup, "_verify_hints", recording_gate)
    # the fault seam runs once per batch after its writes: a batch marker
    _drain(spark, tmp_path, "gates", fault=events.append)
    per_batch, n = [], 0
    for e in events:
        if e == "gate":
            n += 1
        else:
            per_batch.append((e, n))
            n = 0
    assert per_batch == [(0, 1), (1, 2), (2, 2)] and n == 0, events


def test_streaming_curate_reads_only_existing_paths(
    spark, tmp_path, monkeypatch
):
    """A drain learns whether earlier state exists before reading it: every
    parquet path the callback reads exists when it is read, so the first
    batch logs no PATH_NOT_FOUND failure."""
    from pyspark.sql.readwriter import DataFrameReader

    reads = []
    parquet = DataFrameReader.parquet

    def recording_parquet(self, *paths, **options):
        reads.extend((p, os.path.exists(p)) for p in paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    _drain(spark, tmp_path, "reads")
    assert reads and all(ok for _, ok in reads), reads


# ---------------------------------------------------------------- wave 5
# Optimization-round internals: explicit kernel-stage width and the
# analyzed-plan caches (OPTIMIZATION_r14.md wave 5).


def test_kernel_stage_width_is_explicit(spark):
    """The grouped-Python-kernel exchanges must carry an EXPLICIT partition
    width (defaultParallelism), not the AQE-coalescible default: AQE
    coalesces by bytes and a kilobytes-small exchange feeding a CPU-heavy
    kernel otherwise collapses to 1-2 tasks (guide §2.5; measured 2 tasks /
    144s of kernel time on the ngram query at sf0.1). The groupBy must
    REUSE that partitioning — exactly one exchange below the kernel node."""
    from migdar_data_pipelines_spark.llm.dedup import (
        ngram_jaccard_pairs_blocked_kernel,
    )

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} common words here") for i in range(40)],
        "id long, text string",
    )
    out = ngram_jaccard_pairs_blocked_kernel(df, "text", "id", n=2, threshold=0.3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    assert f"hashpartitioning(blk#" in plan and f", {n})" in plan, plan[:2000]
    # one exchange feeds the kernel: the segment between the kernel node and
    # its exchange contains no second exchange
    tree = plan.split("FlatMapGroupsInPandas")[-1]
    assert tree.count("Exchange") <= 1, plan[:3000]


def test_t_cache_reuses_analyzed_plan(spark, sf_dir):
    """_t returns the SAME analyzed DataFrame for repeated reads of an
    immutable gate table (plan reuse — no data or result caching), and
    distinct frames per (dir, table)."""
    from migdar_data_pipelines_spark.plans.queries import _t

    a = _t(spark, sf_dir, "nation")
    b = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "region")
    assert a is b
    assert a is not c
    assert a.count() == spark.read.parquet(f"{sf_dir}/nation.parquet").count()


def test_events_stream_schema_cache(spark, sf_dir, tmp_path):
    """read_events_stream infers the source schema once per (app, path) —
    the second call must not re-run the footer job, and the streamed frame
    keeps the converted timestamp column."""
    import shutil

    from migdar_data_pipelines_spark.streaming import windows as sw

    # a path no earlier test has streamed, so the first call must infer
    path = shutil.copy(f"{sf_dir}/events.parquet", tmp_path)
    sc = spark.sparkContext

    def jobs_of_read(group):
        sc.setJobGroup(group, group)
        try:
            stream = sw.read_events_stream(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return stream, len(sc.statusTracker().getJobIdsForGroup(group))

    _, first = jobs_of_read("events_schema_first")
    stream, second = jobs_of_read("events_schema_second")
    assert first >= 1 and second == 0
    assert dict(stream.dtypes)["ts"].startswith("timestamp")
