"""Similarity search over an embedding column (array<float>).

Two tiers:
  * cosine_topk — brute-force exact top-k: queries x corpus with the dot
    product as a pure expression fold. The queries side is broadcast (it is
    small by construction); the corpus is scanned once, no shuffle besides the
    final per-query top-k, which is a partial top-k under AQE.
  * ivf_topk — the scale path: both sides carry a coarse cell id (IVF-style
    quantizer; any assignment works — a kmeans label, an LSH bucket). Probing
    only matching cells cuts the candidate set by ~|cells|x at the cost of
    recall, the standard ANN trade.

At 100 TB the corpus lives partitioned by cell; ivf_topk's join is then
co-partitioned and the brute-force tier is reserved for reranking.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .linalg import cosine
from .._serde import register_self_contained
from ..session import local_df

register_self_contained(__name__)

# strategy="auto" routing ceiling for the corpus-wide embedding entry
# points (knn_graph / mutual_knn_clusters / margin_mining): at/below this
# many vectors the exact blocked kernel is the better plan (its block
# cross-join is ~ (n/block_rows)^2 block pairs — bounded work that stays
# below the IVF route's quantizer-training + dual-assignment overhead);
# above it, the plan MUST be sub-quadratic, so auto routes to the IVF
# cell equi-join with sqrt(n) cells. 100k vectors = ~9.5k block pairs at
# the default block_rows=1024 — well inside a cluster's comfort zone,
# while 10x that would already be ~1M block pairs.
ANN_AUTO_EXACT_MAX_ROWS = 100_000


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbours per query by cosine. Returns
    (query_id, neighbour_id, cosine, rank)."""
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv"))
    )
    c = corpus.select(F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("cv"))
    pairs = c.join(q, F.lit(True))
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    scored = pairs.withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbour_id"),
            "cosine",
            "rank",
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    cell_col: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """ANN top-k probing only the query's cell (IVF nprobe=1). Same output
    shape as cosine_topk; recall < 1 by design."""
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(query_vec).alias("qv"),
            F.col(cell_col).alias("qcell"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("cv"),
        F.col(cell_col).alias("ccell"),
    )
    pairs = c.join(q, F.col("qcell") == F.col("ccell"))
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    scored = pairs.withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbour_id"),
            "cosine",
            "rank",
        )
    )


# ------------------------------------------------------ int8 quantization
def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: ``scale = max|x|/127``,
    ``q_i = round(x_i / scale)`` in [-127, 127] stored as ``array<tinyint>``
    — 4x smaller than float32 (8x vs double), the standard memory/IO lever
    for ANN corpora: a 100 TB float32 embedding store becomes 25 TB, and the
    reconstruction error is bounded per coordinate by ``scale/2``.

    Pure expressions (scan-local, zero shuffle); zero vectors quantize to
    zeros with scale 0 rather than dividing by zero (ANSI mode would throw).
    Search pattern: score candidates on dequantized ints, exact-rescore the
    top-k' on the full-precision column — same two-tier shape as
    ``embedding_near_dup_matmul``/IVF rerank."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = amax / F.lit(127.0)
    q = F.when(
        amax == 0.0, F.transform(v, lambda x: F.lit(0).cast("tinyint"))
    ).otherwise(
        F.transform(v, lambda x: F.round(x.cast("double") / scale).cast("tinyint"))
    )
    return df.withColumn(q_col, q).withColumn(scale_col, scale)


def dequantize_expr(q_col: str = "qvec", scale_col: str = "qscale") -> F.Column:
    """array<double> reconstruction of a quantized vector: ``q_i * scale``.
    Compose with :func:`linalg.cosine` for quantized candidate scoring."""
    return F.transform(
        F.col(q_col), lambda i: i.cast("double") * F.col(scale_col)
    )


def residual_quantized_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """Quantized-residual IVF scoring with exact float rerank (VERDICT r12
    #5) — the standard 100 TB ANN memory story: the INDEX tier holds, per
    vector, only its cell id and the int8-quantized residual against the
    cell's reference vector (codes ~4x smaller than float32, and residuals
    are small relative to the reference so the shared scale loses less than
    whole-vector quantization); the float tier is touched only for the
    ``k * rerank`` best reconstructed candidates per query.

    Inputs:
      probes — (qid, qv, qcell): one row per (query, probed cell), e.g. the
               exploded nprobe list of :func:`top_cells` or the
               representative-ranked form the registered query builds.
      corpus — (cid, cv, ccell, rv): every corpus vector with its cell id
               and the cell's REFERENCE vector rv (learned centroid or a
               deterministic representative member).

    Chain (all scan-local expressions; the reconstructed frame is persisted
    once so CollapseProject cannot re-run the quantize chain per candidate
    pair — the embedding_topk_quantized lesson):

        res   = cv - rv                    (double)
        scale = max|res| / 127
        code  = round(res / scale)  int8   (the stored index payload)
        dv    = rv + code * scale          (reconstruction)
        approx = cosine(qv, dv)  -> per-query top k*rerank candidates
        exact  = cosine(qv, cv)  -> final top-k among the candidates

    Equality contract: whenever the true per-query top-k (within probed
    cells) survives the k*rerank approximate cut, the output is IDENTICAL
    to the unquantized probe search — asserted against the plain nprobe
    route in tests and by the registered query's oracle."""
    from ..operators.caching import scoped_persist

    cvd = F.transform(F.col("cv"), lambda x: x.cast("double"))
    rvd = F.transform(F.col("rv"), lambda x: x.cast("double"))
    res = F.zip_with(cvd, rvd, lambda a, b: a - b)
    base = corpus.withColumn("__res", res).withColumn(
        "__scale",
        F.array_max(F.transform(F.col("__res"), F.abs)) / F.lit(127.0),
    )
    dv = F.when(
        F.col("__scale") == 0.0,
        F.transform(F.col("rv"), lambda x: x.cast("double")),
    ).otherwise(
        F.zip_with(
            rvd,
            F.transform(
                F.col("__res"),
                lambda x: F.round(x / F.col("__scale")).cast("tinyint"),
            ),
            lambda r, c: r + c.cast("double") * F.col("__scale"),
        )
    )
    recon = scoped_persist(
        base.select("cid", "ccell", "cv", dv.alias("dv"))
    )
    pairs = recon.join(
        F.broadcast(probes), F.col("qcell") == F.col("ccell")
    ).filter(F.col("qid") != F.col("cid"))
    cand = pairs.withColumn(
        "approx", F.round(cosine(F.col("qv"), F.col("dv")), 4)
    )
    w_a = Window.partitionBy("qid").orderBy(F.desc("approx"), F.asc("cid"))
    kept = (
        cand.withColumn("arn", F.row_number().over(w_a))
        .filter(F.col("arn") <= k * rerank)
        .select("qid", "qv", "cid", "cv")
    )
    scored = kept.withColumn(
        "cosine", F.round(cosine(F.col("qv"), F.col("cv")), 4)
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbour_id"),
            "cosine",
            "rank",
        )
    )


# ----------------------------------------------------------- learned IVF
def _deterministic_sample(
    df: DataFrame, vec_col: str, id_col: str, sample_rows: int
) -> DataFrame:
    """Partitioning-independent bounded sample of vectors, scale-safely.

    ``xxhash64(id) % m == 0`` keeps ~2x sample_rows candidates (m sized from
    a count that parquet answers from footer metadata), then the survivors
    are pinned to exactly sample_rows by ordering on the 8-byte hash with the
    id as tie-break — TakeOrderedAndProject over longs, no range-partition
    Exchange and no array comparator anywhere in the plan.
    """
    n = df.count()
    sel = df.select(
        F.xxhash64(F.col(id_col)).alias("__h"),
        F.col(id_col).alias("__k"),
        F.col(vec_col).alias("__v"),
    )
    if n > 2 * sample_rows:
        m = max(1, n // sample_rows)
        sel = sel.filter(F.pmod(F.col("__h"), F.lit(m)) == 0)
    return sel.orderBy("__h", "__k").limit(sample_rows).select("__v")



def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_rows: int = 10_000,
    n_iters: int = 10,
    seed: int = 42,
    id_col: str | None = None,
):
    """Coarse quantizer training: k-means on a driver-side sample (numpy).

    The standard IVF recipe — centroids are learned on a bounded sample
    (10k rows regardless of corpus size; the driver never holds the corpus),
    then broadcast for assignment. Deterministic AND scale-safe: the sample
    is pinned by a hash filter on the id column (``xxhash64(id) % m == 0``
    with m sized from a metadata-only count), then ordered by the 8-byte
    hash — never by the vector. The orderBy+limit compiles to
    TakeOrderedAndProject (per-partition top-k + driver merge, no
    range-partitioning Exchange), and the comparator only ever sees longs;
    at 100 TB the heap holds sample_rows ids, not the corpus. (The previous
    form sorted the whole corpus BY THE VECTOR COLUMN to pin the sample — a
    global array-comparator sort that dwarfed the training it fed.)
    Returns a (n_cells, dim) list of lists.
    """
    import numpy as np

    if id_col is None:
        id_col = next(c for c in df.columns if c != vec_col)
    sample = _deterministic_sample(df, vec_col, id_col, sample_rows).collect()
    if not sample:
        # A low-cardinality id_col makes the hash filter keep all-or-none rows
        # per distinct value, which at large m can strand an empty sample.
        # Fall back to an unfiltered hash-ordered top-k (still deterministic,
        # still TakeOrderedAndProject) before giving up.
        sample = (
            df.select(F.col(vec_col).alias("__v"), F.xxhash64(F.col(id_col)).alias("__h"))
            .orderBy("__h")
            .limit(sample_rows)
            .select("__v")
            .collect()
        )
    if not sample:
        raise ValueError(
            f"train_ivf_centroids: no rows to sample (vec_col={vec_col!r}, "
            f"id_col={id_col!r}) — is the input empty?"
        )
    X = np.asarray([r[0] for r in sample], dtype=np.float64)
    rng = np.random.default_rng(seed)
    cent = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(n_iters):
        # cosine k-means: normalize then argmax dot
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        Cn = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
        assign = np.argmax(Xn @ Cn.T, axis=1)
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent.tolist()


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine argmax) with a
    vectorized pandas UDF: one numpy matmul per Arrow batch, centroids ride
    in the closure (broadcast-sized: n_cells x dim floats)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    @pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(Xn @ Cn.T, axis=1).astype("int32"))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def top_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 2,
    out_col: str = "cells",
) -> DataFrame:
    """nprobe nearest centroids per vector (cosine, stable argsort so ties
    resolve to the lowest cell id) as an array<int> column — the multi-probe
    generalisation of ``assign_cells``; one numpy matmul per Arrow batch."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    p = min(nprobe, len(C))

    @pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(Xn @ Cn.T), axis=1, kind="stable")[:, :p]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return df.withColumn(out_col, _cells(F.col(vec_col)))


def write_ivf_index(
    df: DataFrame,
    path: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus as an IVF index: parquet PARTITIONED BY cell.

    This is the write-once/search-many layout the in-memory helpers allude
    to: at 100 TB the assignment job runs once, and every later search
    touches only the probed cells' files (partition pruning at the scan —
    asserted in tests), ~nprobe/n_cells of the corpus."""
    assign_cells(df, centroids, vec_col, cell_col).write.partitionBy(
        cell_col
    ).mode(mode).parquet(path)


# ------------------------------------------- persisted IVF-PQ index
# (VERDICT r13 #5: the quantized-residual tier as a PARQUET-PERSISTED,
# incrementally extendable index — the shape a 100 TB embedding store
# actually runs: build once, append today's embeddings against the FROZEN
# quantizer, search many times. The ANN mirror of llm/dedup.py's
# incremental_dedup.)


def _double_sql(x: float) -> str:
    """``x`` as a Catalyst double literal. ``repr`` emits the shortest
    string that round-trips under correct rounding, and Catalyst parses
    double literals with Java's correctly-rounded ``parseDouble`` — so the
    parsed value is bit-identical to the Python float."""
    return repr(float(x)) + "D"


def _cells_literal(refs: list[tuple[int, list[float]]]) -> F.Column:
    """The (cell, reference-vector) table as a pure array-of-structs literal
    (n_cells x dim floats — broadcast-sized, rides in the plan).

    Structure: two array literals (cell ids, rv matrix) zipped by a
    transform — same expression shape, output schema and values as the
    pre-r15 form. The two arrays are built as ONE parsed SQL string each,
    not per-element ``F.lit`` calls: PySpark's ``F.lit`` on a nested list
    makes one py4j round trip per scalar — measured 0.94s for a 10x64 refs
    matrix, ~1.1s per ``_cells_literal`` call, rebuilt for encode, probe
    AND search plans (the ~2.9s of driver-side plan construction VERDICT
    r14 #2 traced on the IVF-PQ lifecycle). The ``F.expr`` parses are ~5ms
    total, and the built Column (the expression only: no data, no plan)
    is a ``session_memo`` per refs matrix, so the lifecycle's repeat
    builds — build, incremental add, search — are dict hits. The parsed
    arrays are foldable (constant-folded to the same Literal nodes before
    execution); values are bit-identical because shortest-repr doubles
    re-parse to the same bits — asserted against the F.lit form in tests.
    Non-finite values fall back to per-element ``F.lit`` (no SQL literal
    syntax for NaN/Infinity)."""
    import math

    if not refs:
        # sequence(0, -1) would infer step -1 and yield [0, -1], not empty
        return F.lit([]).cast("array<struct<cell:int,rv:array<double>>>")
    fast = all(math.isfinite(x) for _, rv in refs for x in rv) and all(
        -(1 << 31) <= int(c) < (1 << 31) for c, _ in refs
    )

    def build() -> F.Column:
        if fast:
            cells = F.expr(
                "array(" + ",".join(str(int(c)) for c, _ in refs) + ")"
            )
            rvs = F.expr(
                "array("
                + ",".join(
                    "array(" + ",".join(_double_sql(x) for x in rv) + ")"
                    for _, rv in refs
                )
                + ")"
            ).cast("array<array<double>>")
        else:
            cells = F.lit([int(c) for c, _ in refs])
            rvs = F.lit([[float(x) for x in rv] for _, rv in refs]).cast(
                "array<array<double>>"
            )
        return F.transform(
            F.sequence(F.lit(0), F.lit(len(refs) - 1)),
            lambda i: F.struct(
                F.get(cells, i).alias("cell"), F.get(rvs, i).alias("rv")
            ),
        )

    if not fast:
        return build()
    from ..operators.caching import session_memo

    key = tuple((int(c), tuple(map(float, rv))) for c, rv in refs)
    return session_memo(("cells_literal", key), build)


def assign_cells_deterministic(
    df: DataFrame,
    refs: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Scan-local, SQL-mirrorable cell assignment: argmax over
    ``round(cosine(v, rv), 4)`` with ties to the LOWEST cell id — the house
    determinism convention (round-4 score + id tie-break), expressed as one
    ``array_max`` over a struct array so assignment is a pure projection
    (NO shuffle; the numpy ``assign_cells`` uses full-precision argmax whose
    SIMD summation order an SQL oracle cannot replay). Tie-to-lowest rides
    the struct comparison by negating the cell id inside the max."""
    scored = F.transform(
        _cells_literal(refs),
        lambda s: F.struct(
            F.coalesce(
                F.round(cosine(F.col(vec_col), s["rv"]), 4), F.lit(-2.0)
            ).alias("s"),
            (-s["cell"]).alias("negc"),
        ),
    )
    return df.withColumn(out_col, (-F.array_max(scored)["negc"]).cast("int"))


def _pq_encode(
    df: DataFrame,
    refs: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign + residual-quantize rows into index layout
    (cid, code array<tinyint>, scale double, cv, cell).

    code/scale are PURE per-row functions of (vector, frozen reference), so
    encoding corpus B against corpus A's references yields byte-identical
    rows whether B arrives at build time or through
    :func:`incremental_add_ivf_pq` — the equality contract the registered
    query's oracle checks."""
    from ..operators.caching import scoped_persist

    refs_df = local_df(
        df.sparkSession,
        [(int(c), [float(x) for x in rv]) for c, rv in refs],
        "cell int, rv array<double>",
    )
    # Persist barrier on the assignment: without it the join's implicit
    # isnotnull(cell) filter inlines the WHOLE argmax-over-cells expression
    # (n_cells x dim literal transform + cosine — interpreted HOFs) and every
    # row pays the assignment twice (filter + projection). Measured 1.11s ->
    # 0.54s noop on the sf0.1 encode.
    assigned = scoped_persist(
        assign_cells_deterministic(df, refs, vec_col).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"), "cell"
        )
    )
    j = assigned.join(F.broadcast(refs_df), "cell")
    res = F.zip_with(
        F.transform(F.col("cv"), lambda x: x.cast("double")),
        F.col("rv"),
        lambda a, b: a - b,
    )
    base = j.withColumn("__res", res).withColumn(
        "__scale",
        F.array_max(F.transform(F.col("__res"), F.abs)) / F.lit(127.0),
    )
    code = F.when(
        F.col("__scale") == 0.0,
        F.transform(F.col("__res"), lambda x: F.lit(0).cast("tinyint")),
    ).otherwise(
        F.transform(
            F.col("__res"),
            lambda x: F.round(x / F.col("__scale")).cast("tinyint"),
        )
    )
    return base.select(
        "cid", code.alias("code"), F.col("__scale").alias("scale"), "cv", "cell"
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    refs: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF-PQ index at ``path``:

      * ``path/refs``  — the frozen quantizer, (cell, rv array<double>);
      * ``path/codes`` — parquet PARTITIONED BY cell:
        (cid, code array<tinyint>, scale double, cv).

    The code column is the 4x-compressed candidate-scoring tier; cv is the
    float rerank tier (at 100 TB it lives in colder storage keyed by cid —
    colocated here because the gate corpus is small). Write-once: later
    increments go through :func:`incremental_add_ivf_pq`, searches prune to
    the probed cells' partitions."""
    spark = corpus.sparkSession
    # The refs are a local relation of up to defaultParallelism partitions,
    # so the write may leave several files; _read_refs sorts by cell.
    local_df(
        spark,
        [(int(c), [float(x) for x in rv]) for c, rv in refs],
        "cell int, rv array<double>",
    ).write.mode("overwrite").parquet(f"{path}/refs")
    _pq_encode(corpus, refs, id_col, vec_col).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(f"{path}/codes")


def _read_refs(spark, path: str) -> list[tuple[int, list[float]]]:
    return [
        (r["cell"], list(r["rv"]))
        for r in spark.read.parquet(f"{path}/refs").orderBy("cell").collect()
    ]


def incremental_add_ivf_pq(
    spark,
    path: str,
    new_rows: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    refs: list[tuple[int, list[float]]] | None = None,
) -> None:
    """Extend a persisted index with new embeddings WITHOUT touching the
    standing rows: assign each new vector to its nearest FROZEN cell
    (``path/refs`` — the quantizer is never retrained per increment, exactly
    like incremental_dedup never re-shuffles the standing band table),
    encode its residual, and append to the cell-partitioned codes layout.
    Because encoding is a pure per-row function of (vector, reference), the
    resulting index is byte-identical to a from-scratch build over the
    union with the same references — asserted by the registered query's
    oracle and tests/test_round14_ops.py.

    ``refs`` optionally supplies the frozen quantizer the caller already
    holds (the builder's own refs list) — same rows ``path/refs`` stores,
    so the encode is identical; it skips only the read-back collect. When
    omitted the quantizer is read from the index, the standing contract."""
    if refs is None:
        refs = _read_refs(spark, path)
    _pq_encode(new_rows, refs, id_col, vec_col).write.partitionBy("cell").mode(
        "append"
    ).parquet(f"{path}/codes")


def search_ivf_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    query_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 4,
    refs: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Search the persisted layout: rank cells per query against the frozen
    references (round-4 cosine, cell-id tie-break — same determinism
    convention as assignment), statically prune the codes scan to the probed
    cells (PartitionFilters — non-probed cells never read), score candidates
    on the RECONSTRUCTED vectors (rv + code*scale — the stored int8 tier;
    the quantize chain does NOT re-run at search time, that is the point of
    persisting codes), keep the per-query top ``k*rerank`` by approx score,
    and exact-rerank those on the float column. Self-pairs excluded.

    ``refs`` optionally supplies the frozen quantizer the caller already
    holds (identical rows to ``path/refs``); omitting it reads the index —
    the standing contract for searches arriving cold.

    Returns (query_id, neighbour_id, cosine, rank)."""
    from ..operators.caching import scoped_persist

    if refs is None:
        refs = _read_refs(spark, path)
    scored_cells = F.transform(
        _cells_literal(refs),
        lambda s: F.struct(
            F.coalesce(
                F.round(cosine(F.col(vec_col), s["rv"]), 4), F.lit(-2.0)
            ).alias("s"),
            s["cell"].alias("cell"),
        ),
    )
    probes = (
        # explode ALL cells per query (|queries| x n_cells rows — the query
        # side is small by construction) and rank under the house (s desc,
        # cell asc) convention; a sorted-slice shortcut would tie-break
        # boundary cells toward the HIGHEST id and silently probe a
        # different set
        queries.select(
            F.col(query_id).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode(scored_cells).alias("__p"),
        )
        .select("qid", "qv", F.col("__p.s").alias("__s"), F.col("__p.cell").alias("qcell"))
    )
    w_p = Window.partitionBy("qid").orderBy(F.desc("__s"), F.asc("qcell"))
    probes = (
        probes.withColumn("__prn", F.row_number().over(w_p))
        .filter(F.col("__prn") <= nprobe)
        .select("qid", "qv", "qcell")
    )
    probe_cells = sorted({r["qcell"] for r in probes.select("qcell").distinct().collect()})
    refs_df = local_df(
        spark,
        [(int(c), [float(x) for x in rv]) for c, rv in refs],
        "cell int, rv array<double>",
    )
    codes = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("cell").isin(probe_cells))
        .join(F.broadcast(refs_df), "cell")
    )
    dv = F.when(
        F.col("scale") == 0.0, F.col("rv")
    ).otherwise(
        F.zip_with(
            F.col("rv"),
            F.col("code"),
            lambda r, c: r + c.cast("double") * F.col("scale"),
        )
    )
    # persist the reconstruction so CollapseProject cannot re-run the
    # zip_with chain once per cosine term (the residual_quantized_topk
    # lesson)
    recon = scoped_persist(
        codes.select("cid", F.col("cell").alias("ccell"), "cv", dv.alias("dv"))
    )
    pairs = recon.join(
        F.broadcast(probes), F.col("qcell") == F.col("ccell")
    ).filter(F.col("qid") != F.col("cid"))
    cand = pairs.withColumn("approx", F.round(cosine(F.col("qv"), F.col("dv")), 4))
    w_a = Window.partitionBy("qid").orderBy(F.desc("approx"), F.asc("cid"))
    kept = (
        cand.withColumn("arn", F.row_number().over(w_a))
        .filter(F.col("arn") <= k * rerank)
        .select("qid", "qv", "cid", "cv")
    )
    scored = kept.withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbour_id"),
            "cosine",
            "rank",
        )
    )


def search_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    query_id: str,
    corpus_id: str,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """Search a ``write_ivf_index`` layout: compute each query's nprobe
    cells, statically prune the index scan to that cell set (the probe list
    is |queries| x nprobe — bounded and driver-safe), then exact-rerank.

    The ``isin`` filter on the partition column turns into
    ``PartitionFilters`` on the parquet scan — non-probed cells are never
    read, which is the entire point of the partitioned layout. (A broadcast
    join on the partition column would achieve the same via dynamic
    partition pruning; the static form keeps the plan deterministic.)"""
    q = top_cells(queries, centroids, vec_col, nprobe).select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).alias("qv"),
        F.explode("cells").alias("qcell"),
    )
    probe_cells = sorted({r["qcell"] for r in q.select("qcell").distinct().collect()})
    corpus = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .select(
            F.col(corpus_id).alias("cid"),
            F.col(vec_col).alias("cv"),
            F.col("cell").alias("ccell"),
        )
    )
    pairs = corpus.join(F.broadcast(q), F.col("qcell") == F.col("ccell"))
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    scored = pairs.withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbour_id"),
            "cosine",
            "rank",
        )
    )


def ivf_build_and_search(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    n_cells: int = 16,
    k: int = 5,
    seed: int = 42,
    nprobe: int = 1,
    exclude_self: bool = True,
    quantized: bool = False,
    rerank: int = 4,
) -> DataFrame:
    """End-to-end learned IVF: train centroids on a corpus sample, assign
    cells to both sides, probe the query's nprobe nearest cells. Scoring over
    the probed candidates is always the exact cosine (the rerank step —
    quantization only gates candidate generation), so recall approaches 1 as
    nprobe grows while the scanned fraction stays ~nprobe/n_cells. At scale
    the assigned corpus is written partitioned by cell once and re-searched
    many times; this helper is the single-job form.

    ``quantized=True`` routes candidate scoring through
    :func:`residual_quantized_topk`: the probed candidates are scored on
    int8-quantized residuals against their cell centroid (the 4x-compressed
    index tier) and only the per-query top ``k * rerank`` touch the float
    column for the exact rerank."""
    cents = train_ivf_centroids(corpus, vec_col, n_cells, seed=seed, id_col=corpus_id)
    c = assign_cells(corpus, cents, vec_col)
    if quantized:
        spark = corpus.sparkSession
        cent_df = local_df(
            spark,
            [(i, [float(x) for x in v]) for i, v in enumerate(cents)],
            "ccell int, rv array<double>",
        )
        probes = (
            top_cells(queries, cents, vec_col, max(1, nprobe))
            .select(
                F.col(query_id).alias("qid"),
                F.col(vec_col).alias("qv"),
                F.explode("cells").alias("qcell"),
            )
        )
        if not exclude_self:
            raise ValueError("quantized route always excludes self-pairs")
        cw = c.select(
            F.col(corpus_id).alias("cid"),
            F.col(vec_col).alias("cv"),
            F.col("cell").alias("ccell"),
        ).join(F.broadcast(cent_df), "ccell")
        return residual_quantized_topk(probes, cw, k=k, rerank=rerank)
    if nprobe <= 1:
        q = assign_cells(queries, cents, vec_col)
        return ivf_topk(
            q, c, query_id, corpus_id, cell_col="cell",
            query_vec=vec_col, corpus_vec=vec_col, k=k, exclude_self=exclude_self,
        )
    # Multi-probe: explode the query's probe list — each corpus row lives in
    # exactly one cell, so a (query, candidate) pair appears at most once and
    # no post-join dedup is needed.
    q = F.broadcast(
        top_cells(queries, cents, vec_col, nprobe)
        .select(
            F.col(query_id).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode("cells").alias("qcell"),
        )
    )
    c2 = c.select(
        F.col(corpus_id).alias("cid"),
        F.col(vec_col).alias("cv"),
        F.col("cell").alias("ccell"),
    )
    pairs = c2.join(q, F.col("qcell") == F.col("ccell"))
    if exclude_self:
        pairs = pairs.filter(F.col("qid") != F.col("cid"))
    scored = pairs.withColumn("cosine", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbour_id"),
            "cosine",
            "rank",
        )
    )


def knn_graph(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    strategy: str = "auto",
    n_cells: int | str = "auto",
    nprobe: int = 2,
    seed: int = 42,
    block_rows: int = 1024,
    exclude_self: bool = True,
    auto_rows_threshold: int | None = None,
) -> DataFrame:
    """Corpus-wide kNN graph: top-``k`` cosine neighbours of EVERY vector,
    as (query_id, neighbour_id, cosine, rank) — the input graph for
    mutual-kNN clustering, SemDeDup-style semantic dedup, and graph-based
    mining.

    ``strategy``:
      * ``"auto"`` (default) — persist the (id, vec) projection, count it
        (one bounded scalar at plan-construction time — the same accepted
        eager gate as the LSH candidate broadcast, llm/dedup.py:259; the
        persisted frame feeds whichever kernel wins, so nothing upstream
        recomputes), and route: at/below ``auto_rows_threshold`` rows
        (default ``ANN_AUTO_EXACT_MAX_ROWS``) the exact kernel — bounded
        quadratic work that beats the IVF route's quantizer overhead —
        above it the sub-quadratic IVF cell equi-join, so the public
        entry point NEVER defaults to an O(n^2) plan at corpus scale.
      * ``"exact"`` — the blocked-matmul brute force
        (:func:`cosine_topk_blocked`): every block pair scored, output
        bit-identical to ``cosine_topk``. Quadratic in corpus size — this
        is the ORACLE GATE path and the right choice up to ~1M vectors.
      * ``"ivf"`` — the scale path: train the learned coarse quantizer on
        a bounded sample (:func:`train_ivf_centroids`), assign every
        corpus vector its cell, probe each query's ``nprobe`` nearest
        cells, and score ONLY same-cell block pairs (cell-mode
        :func:`cosine_topk_blocked` — an equi-join on cell, never a
        cross join, and NOTHING is broadcast: both sides here are
        corpus-sized, so the join shuffles on the cell key and stays
        co-partitioned). Work scales ~``nprobe/n_cells`` of the exact
        pass per query — sub-quadratic once ``n_cells`` grows with the
        corpus: ``n_cells="auto"`` sizes it to ~sqrt(n) (one cheap count),
        which keeps per-cell candidate lists flat at O(sqrt(n)) and total
        scored pairs at O(n^1.5 * nprobe), the standard IVF sizing.
        Survivors are exact-rescored, so edges that
        ARE found carry the same rounded cosine and rank order as the
        exact graph; recall < 1 by design and rises with ``nprobe``
        (``tests/test_llm_ops.py::test_knn_graph_ivf_recall`` pins
        >= 0.95 edge recall on the benchmark corpus). Measured at a
        200k-vector rung (SCALING.md): recall@3 = 0.96 on
        clustered geometry, but 0.11 on a near-uniform control — IVF
        recall is a property of the corpus's clusterability; for vectors
        with no local structure raise ``nprobe`` or force
        ``strategy="exact"``.

    Cache lifetime (ADVICE r8): ``strategy="auto"`` is EAGER at call time
    — it runs one count job — and the (id, vec) projection is persisted
    via :func:`~..operators.caching.scoped_persist`: it lives until the
    enclosing :func:`~..operators.caching.cache_scope` exits, or until the
    next registry query. Both routed kernels consume the persisted
    frame more than once (exact: query+corpus side; IVF: quantizer
    training, cell assignment, probing), so the persist is load-bearing on
    either branch, not just a routing artifact.

    Changed defaults (round 8): ``strategy`` "exact"→"auto";
    ``n_cells`` 16→"auto" (~sqrt(n)) — explicit ``strategy="ivf"``
    callers who relied on 16 cells should now pass ``n_cells=16``.
    """
    n = None
    if strategy == "auto":
        from ..operators.caching import scoped_persist

        df = scoped_persist(df.select(id_col, vec_col))
        n = df.count()
        ceiling = (
            ANN_AUTO_EXACT_MAX_ROWS
            if auto_rows_threshold is None
            else auto_rows_threshold
        )
        strategy = "exact" if n <= ceiling else "ivf"
    if strategy == "exact":
        return cosine_topk_blocked(
            df, df, id_col, id_col, query_vec=vec_col, corpus_vec=vec_col,
            k=k, exclude_self=exclude_self, block_rows=block_rows,
            n_queries=n, n_corpus=n,
        )
    if strategy != "ivf":
        raise ValueError(f"knn_graph: unknown strategy {strategy!r}")
    if n_cells == "auto":
        n_cells = max(4, int((df.count() if n is None else n) ** 0.5))
    cents = train_ivf_centroids(df, vec_col, n_cells, seed=seed, id_col=id_col)
    corpus = assign_cells(df, cents, vec_col, out_col="__cell")
    q = top_cells(df, cents, vec_col, nprobe, out_col="__cells").select(
        F.col(id_col), F.col(vec_col), F.explode("__cells").alias("__qcell")
    )
    return cosine_topk_blocked(
        q, corpus, id_col, id_col, query_vec=vec_col, corpus_vec=vec_col,
        k=k, exclude_self=exclude_self, block_rows=block_rows,
        query_cell_col="__qcell", corpus_cell_col="__cell",
    )


def mutual_knn_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    strategy: str = "auto",
    n_cells: int | str = "auto",
    nprobe: int = 2,
    seed: int = 42,
    auto_rows_threshold: int | None = None,
) -> DataFrame:
    """Semantic clustering by mutual-kNN + connected components (the
    SemDeDup-family pipeline shape): an edge exists only where BOTH
    vectors rank each other in their top-``k`` — the symmetric filter that
    stops chain-linking through hubs — then connected components label
    every vector (singletons stay their own cluster). Returns
    (id_col, cluster_id, cluster_size).

    ``strategy`` routes the kNN pass (see :func:`knn_graph`): ``"auto"``
    (default) counts the corpus once and picks exact at/below
    ``auto_rows_threshold`` (default ``ANN_AUTO_EXACT_MAX_ROWS``), IVF
    above; ``"exact"`` is the oracle-gated quadratic kernel; ``"ivf"`` is
    the sub-quadratic production path. Note the ANN pass's sub-1 recall cuts both ways at
    the edge level: a missed true neighbour usually drops a mutual edge
    (under-merge), but it also promotes the next-nearest candidate into
    the top-k, which can occasionally mint a spurious mutual edge — the
    mutual filter bounds, but does not eliminate, that effect. On
    separable data (the regime clustering is FOR) the kNN recall is ~1
    and the clusterings coincide; the recall gate in
    tests/test_llm_ops.py pins both.

    Cache lifetime: ``strategy="auto"`` runs one eager count job inside
    the kNN pass and the routed projection (plus the kNN edge frame below)
    lives until the enclosing ``cache_scope()`` exits, or until the next
    registry query — see :func:`knn_graph`."""
    from ..operators.caching import scoped_persist

    from .dedup import canonical_groups

    e = df.select(id_col, vec_col)
    # the kNN pass feeds THREE consumers (both sides of the mutual
    # semi-join plus canonical_groups' edge checkpoint); without a persist
    # Spark re-runs the full kernel per consumer
    knn = scoped_persist(
        knn_graph(
            e, id_col, vec_col, k=k, strategy=strategy,
            n_cells=n_cells, nprobe=nprobe, seed=seed,
            auto_rows_threshold=auto_rows_threshold,
        ).select(
            F.col("query_id").alias("qid"), F.col("neighbour_id").alias("cid")
        )
    )
    knn_r = knn.select(F.col("cid").alias("qid2"), F.col("qid").alias("cid2"))
    mutual = (
        knn.filter(F.col("qid") < F.col("cid"))
        .join(
            knn_r,
            (F.col("qid") == F.col("qid2")) & (F.col("cid") == F.col("cid2")),
            "left_semi",
        )
        .select(F.col("qid").alias("id_a"), F.col("cid").alias("id_b"))
    )
    groups = canonical_groups(e.select(id_col), mutual, id_col)
    return groups.select(
        F.col(id_col),
        F.col("canonical_id").alias("cluster_id"),
        F.col("group_size").alias("cluster_size"),
    )


def margin_mining(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    margin_threshold: float = 1.05,
    strategy: str = "auto",
    n_cells: int | str = "auto",
    nprobe: int = 2,
    seed: int = 42,
    auto_rows_threshold: int | None = None,
) -> DataFrame:
    """Margin-based candidate mining between two embedding spaces (Artetxe &
    Schwenk 2019, the LASER/CCMatrix bitext-mining scorer): for a candidate
    pair (x, y), margin = cos(x,y) / ((avgk(x) + avgk(y)) / 2), where
    avgk(v) is the mean cosine of v's top-k neighbours in the OTHER side.
    Raw cosine retrieves hubs (vectors close to everything); the margin
    normalizes by each side's local neighbourhood density, which is what
    makes mined pairs precise enough to train on.

    Returns (left_id, right_id, cosine, margin) for pairs in the left
    side's top-k whose margin clears the threshold.

    Shape: two top-k passes, two k-row-per-id aggregates for the avgk
    denominators, and a candidate-sized join to score margins. All ranking
    is on rounded cosines with id tie-breaks, so the mined set is
    engine-exact.

    ``strategy="auto"`` (default) persists both sides (each feeds two
    passes anyway), counts them once, and routes on the LARGER side:
    exact at/below ``auto_rows_threshold`` (default
    ``ANN_AUTO_EXACT_MAX_ROWS``), IVF above — the quadratic term is
    |left| x |right|, so the bigger side decides.
    ``strategy="exact"`` (the oracle-gate path) runs both passes on
    the blocked matmul kernel: margin mining's query side is corpus-sized,
    which is exactly when the interpreted expression fold collapses
    (42s -> ~3s at sf0.1); cosine_topk_blocked is rank-identical by
    construction. ``strategy="ivf"`` is the sub-quadratic production
    path: each direction trains a coarse quantizer on ITS corpus side and
    scores only probed-cell block pairs (cell-mode blocked kernel, same
    route as :func:`knn_graph`); mined pairs still carry exact rescored
    cosines, and a pair missed by the ANN pass only shrinks the mined set
    (margins of FOUND pairs shift by at most the avgk drift of missed
    neighbours).

    Cache lifetime: ``strategy="auto"`` runs two eager count jobs at call
    time and both side projections live until the enclosing
    ``cache_scope()`` exits, or until the next registry query — see
    :func:`knn_graph`."""
    from ..operators.caching import scoped_persist

    counts: dict[int, int] = {}
    if strategy == "auto":
        left = scoped_persist(left.select(id_col, vec_col))
        right = scoped_persist(right.select(id_col, vec_col))
        counts[id(left)] = left.count()
        counts[id(right)] = right.count()
        ceiling = (
            ANN_AUTO_EXACT_MAX_ROWS
            if auto_rows_threshold is None
            else auto_rows_threshold
        )
        strategy = "exact" if max(counts.values()) <= ceiling else "ivf"

    def _topk(qs: DataFrame, cs: DataFrame) -> DataFrame:
        if strategy == "exact":
            return cosine_topk_blocked(
                qs, cs, id_col, id_col, query_vec=vec_col, corpus_vec=vec_col,
                k=k, exclude_self=False,
                n_queries=counts.get(id(qs)), n_corpus=counts.get(id(cs)),
            )
        if strategy != "ivf":
            raise ValueError(f"margin_mining: unknown strategy {strategy!r}")
        cells = n_cells
        if cells == "auto":
            cells = max(4, int((counts.get(id(cs)) or cs.count()) ** 0.5))
        cents = train_ivf_centroids(
            cs, vec_col, cells, seed=seed, id_col=id_col
        )
        corpus = assign_cells(cs, cents, vec_col, out_col="__cell")
        q = top_cells(qs, cents, vec_col, nprobe, out_col="__cells").select(
            F.col(id_col), F.col(vec_col), F.explode("__cells").alias("__qcell")
        )
        return cosine_topk_blocked(
            q, corpus, id_col, id_col, query_vec=vec_col, corpus_vec=vec_col,
            k=k, exclude_self=False,
            query_cell_col="__qcell", corpus_cell_col="__cell",
        )

    # fwd feeds both the avgk aggregate and the candidate join — persist so
    # the top-k pass runs once per direction.
    fwd = scoped_persist(_topk(left, right))
    rev = _topk(right, left)
    avg_l = fwd.groupBy("query_id").agg(F.avg("cosine").alias("avg_l"))
    avg_r = rev.groupBy("query_id").agg(F.avg("cosine").alias("avg_r"))
    cand = (
        fwd.select(
            F.col("query_id").alias("left_id"),
            F.col("neighbour_id").alias("right_id"),
            "cosine",
        )
        .join(avg_l, F.col("left_id") == F.col("query_id"))
        .drop("query_id")
        .join(avg_r, F.col("right_id") == F.col("query_id"))
        .drop("query_id")
    )
    margin = F.round(
        F.col("cosine") / ((F.col("avg_l") + F.col("avg_r")) / 2), 4
    )
    return (
        cand.withColumn("margin", margin)
        .filter(F.col("margin") >= margin_threshold)
        .select("left_id", "right_id", "cosine", "margin")
    )


def cosine_topk_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
    block_rows: int = 1024,
    query_cell_col: str | None = None,
    corpus_cell_col: str | None = None,
    n_queries: int | None = None,
    n_corpus: int | None = None,
) -> DataFrame:
    """``cosine_topk`` for LARGE query sides: exact top-k per query with the
    scoring inner loop as a blocked numpy matmul instead of 1M interpreted
    expression folds (measured 42s -> ~3s at sf0.1 on a 1000x1000 margin-
    mining pass).

    ``n_queries``/``n_corpus`` optionally carry an already-known exact row
    count into the block sizing (non-cell mode), skipping the per-side
    count job — callers with an auto-routing count in hand (knn_graph,
    margin_mining) pass it down instead of recounting the same frame.

    Shape: both sides hash into ~``block_rows``-row blocks whose (ids,
    vectors) are collect_list'd into ONE ROW per block; the block-pair
    cross join carries n_q_blocks x n_c_blocks rows (each a compact Arrow
    payload), and a pandas kernel emits each query's block-local top
    (k+4 and anything within a rounding-slack margin of the cut) — the
    same candidate-safety construction as ``embedding_near_dup_matmul``,
    so no true top-k member can be lost to matmul-vs-fold float drift.
    Candidates (<= blocks x (k+4ish) per query) are exact-rescored with
    the expression fold and re-ranked on rounded cosines with the id
    tie-break, making the output bit-identical to ``cosine_topk``.

    CELL MODE (``query_cell_col`` + ``corpus_cell_col`` set): blocks are
    formed per cell and the block-pair join becomes an EQUI-join on the
    cell id — only same-cell block pairs are scored, which is the IVF
    candidate route (see :func:`knn_graph`). The query side may carry one
    exploded row per probe cell (multi-probe); the exact-rescore stage
    dedups (query, candidate) pairs and query vectors, so each surviving
    pair is scored once. Sub-blocking inside a cell uses the cell's OWN
    row count (a broadcast-sized per-cell histogram, not a global
    average), so one hot cell still splits into ~``block_rows`` blocks —
    skew-safe without assuming the quantizer balanced the cells. Without
    cell columns, the block-pair cross join is the honest distributed
    brute-force: quadratic in blocks but each pair is a compiled matmul.

    Construction runs count aggregates eagerly (block sizing); like the
    LSH broadcast-gate estimates, building this plan triggers Spark jobs
    before the caller's first action."""
    import numpy as np

    def _blocks(
        df, idc, vecc, cellc, cell_out, bcol, id_out, vec_out, ids_out, vecs_out,
        n_rows=None,
    ):
        if cellc is None:
            n = df.count() if n_rows is None else n_rows
            bn = max(1, (n + block_rows - 1) // block_rows)
            keys = [bcol]
            sel = df.select(
                F.pmod(F.xxhash64(F.col(idc)), F.lit(bn)).alias(bcol),
                F.col(idc).alias(id_out),
                F.col(vecc).alias(vec_out),
            )
        else:
            # per-cell block counts: |cell| rows -> ceil(|cell|/block_rows)
            # blocks, broadcast back (n_cells rows, always driver-tiny)
            cnt = df.groupBy(F.col(cellc).alias(cell_out)).agg(
                F.count(F.lit(1)).alias("__cn")
            )
            keys = [cell_out, bcol]
            sel = (
                df.join(F.broadcast(cnt), F.col(cellc) == F.col(cell_out))
                .select(
                    cell_out,
                    F.pmod(
                        F.xxhash64(F.col(idc)),
                        F.greatest(
                            F.ceil(F.col("__cn") / block_rows).cast("long"),
                            F.lit(1),
                        ),
                    ).alias(bcol),
                    F.col(idc).alias(id_out),
                    F.col(vecc).alias(vec_out),
                )
            )
        # Explicit kernel-stage width (guide §2.5): the block aggregate's
        # output rows are few (one per block) but each feeds the matmul
        # kernel through the block-pair join — AQE's byte-based coalescing
        # would pack them onto 1-2 tasks. groupBy reuses this partitioning.
        from ..operators.scale import partition_for_kernel

        return partition_for_kernel(sel, *keys).groupBy(*keys).agg(
            F.collect_list(id_out).alias(ids_out),
            F.collect_list(vec_out).alias(vecs_out),
        )

    # Self-kNN fast path: when both sides ARE the same frame/columns, the
    # two block aggregates are the identical plan — build ONE blocks frame,
    # pin it, and read it from both sides of the block-pair join (without
    # the pin the cross join would still execute the collect_list aggregate
    # twice, once per side). The rename is a zero-cost projection.
    self_same = (
        corpus is queries
        and corpus_id == query_id
        and corpus_vec == query_vec
        and query_cell_col is None
        and corpus_cell_col is None
    )
    qblocks = _blocks(
        queries, query_id, query_vec, query_cell_col,
        "__qbcell", "qb", "qid", "qv", "qids", "qvs",
        n_rows=n_queries,
    )
    if self_same:
        from ..operators.caching import scoped_persist

        qblocks = scoped_persist(qblocks)
        cblocks = qblocks.select(
            F.col("qb").alias("cb"),
            F.col("qids").alias("cids"),
            F.col("qvs").alias("cvs"),
        )
    else:
        cblocks = _blocks(
            corpus, corpus_id, corpus_vec, corpus_cell_col,
            "__cbcell", "cb", "cid", "cv", "cids", "cvs",
            n_rows=n_corpus,
        )
    if query_cell_col is None:
        paired = qblocks.crossJoin(cblocks)
    else:
        paired = qblocks.join(
            cblocks, F.col("__qbcell") == F.col("__cbcell")
        )

    kk = k + 4
    from pyspark.sql.functions import pandas_udf  # noqa: F401

    def _block_topk(it):
        for pdf in it:
            out_q, out_c, out_s = [], [], []
            for row in pdf.itertuples(index=False):
                qids = np.asarray(row.qids)
                Q = np.asarray(list(row.qvs), dtype=np.float64)
                cids = np.asarray(row.cids)
                C = np.asarray(list(row.cvs), dtype=np.float64)
                qn = np.linalg.norm(Q, axis=1, keepdims=True)
                cn = np.linalg.norm(C, axis=1, keepdims=True)
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = (Q / qn) @ (C / cn).T  # nq x nc
                S = np.nan_to_num(S, nan=-2.0)
                top = min(kk, S.shape[1])
                part = np.argpartition(-S, top - 1, axis=1)[:, :top]
                for i in range(S.shape[0]):
                    # Final ranking is round(cosine,4) desc with id tie-break,
                    # so a true top-k member under the ROUNDED ordering can
                    # trail the kk-th raw score by up to the 5e-5 rounding
                    # quantum; the cut must cover that band (same t_eff
                    # convention as the PPJoin prefix filter) or near-tied
                    # candidates get silently pruned block-locally.
                    cut = S[i, part[i]].min() - 5e-5 - 1e-9
                    sel = np.where(S[i] >= cut)[0]
                    out_q.extend([qids[i]] * len(sel))
                    out_c.extend(cids[sel])
                    out_s.extend(S[i, sel])
            yield pd.DataFrame({"qid": out_q, "cid": out_c, "s": out_s})

    cands = paired.mapInPandas(_block_topk, "qid long, cid long, s double")
    if exclude_self:
        cands = cands.filter(F.col("qid") != F.col("cid"))

    qv_frame = queries.select(
        F.col(query_id).alias("qid"), F.col(query_vec).alias("__qv")
    )
    if query_cell_col is not None:
        # multi-probe queries carry one row per probe cell; rescore each
        # query vector once
        qv_frame = qv_frame.dropDuplicates(["qid"])
    cv_frame = corpus.select(
        F.col(corpus_id).alias("cid"), F.col(corpus_vec).alias("__cv")
    )
    exact = (
        cands.select("qid", "cid").dropDuplicates(["qid", "cid"])
        .join(qv_frame, "qid")
        .join(cv_frame, "cid")
        .withColumn("cosine", F.round(cosine(F.col("__qv"), F.col("__cv")), 4))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbour_id"),
            "cosine",
            "rank",
        )
    )
