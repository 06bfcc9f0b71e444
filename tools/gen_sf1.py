#!/usr/bin/env python
"""Generate a FULL sf1.0 dataset — every driver table at 10x sf0.1 — for the
real-decade-scale parity + bench run (VERDICT r12 #1: "run the full suite at
sf1.0 … round-flip divergences need ~1e7 rows; sf1 is where they live").

/root/testdata is read-only and stops at sf0.1, so this writes a synthetic
sf1 under $SPARK_GRAFT_SF1_DIR (default <repo>/.data/sf1 — gitignored but
stable across rounds, unlike the /tmp default VERDICT r13 #7 flagged; the
driver forbids writing /root/testdata itself). Deterministic end to end
(DuckDB shard algebra + numpy seed 42), so any round can rebuild the exact
same corpus and artifacts stay reproducible.

Construction: 10 key-remapped shards of the driver's own sf0.1 tables — the
same honest-scaling recipe as the F-scale documents corpus (FIXTURES.md):

  * every key space is offset by shard * 1,000,000 (all sf0.1 maxima are
    < 150k), and FOREIGN keys shift with their parents, so referential
    integrity holds and every join family scales linearly;
  * value columns are copied verbatim — every marginal distribution
    (prices, dates, segments, event types, langs) is exactly sf0.1's;
  * events get +shard microseconds on ts so corresponding rows across
    shards never collide on the timestamp (no new tie classes for
    order-sensitive windows);
  * documents use the token-suffix scheme (shard k's tokens carry an
    'xk' suffix): near-dup PAIRS exist only inside a shard, so dedup
    pair density stays linear in rows — constant dup rate, not a
    (10x)^2 pair explosion;
  * region/nation stay fixed (TPC-H keeps both constant across SF);
  * embeddings are generated fresh (copies would create exact-duplicate
    vectors → cosine-tie degeneracy in every kNN query): 10 labeled
    clusters x 2,000 members at 64 dims, sigma=0.05 noise, L2-normalized
    — the same clustered geometry as sf0.1 (10 labels, unit norms).

Row counts: lineitem 6M, orders 1.5M, customer 150k, part 200k,
supplier 10k, events 1M, documents 50k, embeddings 20k.
"""

from __future__ import annotations

import os

import duckdb

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(_REPO, ".data", "sf1"))
SRC = "/root/testdata/sf0.1"
N_SHARDS = 10
OFF = 1_000_000  # > every sf0.1 key maximum (149,999)


def _shards(con: duckdb.DuckDBPyConnection, table_sql: str, out: str) -> None:
    con.execute(
        f"""
        COPY (
          SELECT * FROM ({table_sql})
          ORDER BY 1
        ) TO '{out}' (FORMAT PARQUET)
        """
    )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW sh AS SELECT unnest(range({N_SHARDS})) AS shard")

    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{OUT}/{t}.parquet' (FORMAT PARQUET)"
        )

    _shards(
        con,
        f"""
        SELECT c_custkey + shard * {OFF} AS c_custkey,
               printf('Customer#%09d', c_custkey + shard * {OFF}) AS c_name,
               c_nationkey, c_acctbal, c_mktsegment
        FROM read_parquet('{SRC}/customer.parquet') CROSS JOIN sh
        """,
        f"{OUT}/customer.parquet",
    )
    _shards(
        con,
        f"""
        SELECT s_suppkey + shard * {OFF} AS s_suppkey,
               printf('Supplier#%09d', s_suppkey + shard * {OFF}) AS s_name,
               s_nationkey, s_acctbal
        FROM read_parquet('{SRC}/supplier.parquet') CROSS JOIN sh
        """,
        f"{OUT}/supplier.parquet",
    )
    _shards(
        con,
        f"""
        SELECT p_partkey + shard * {OFF} AS p_partkey,
               p_name, p_brand, p_type, p_size, p_retailprice
        FROM read_parquet('{SRC}/part.parquet') CROSS JOIN sh
        """,
        f"{OUT}/part.parquet",
    )
    _shards(
        con,
        f"""
        SELECT o_orderkey + shard * {OFF} AS o_orderkey,
               o_custkey + shard * {OFF} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM read_parquet('{SRC}/orders.parquet') CROSS JOIN sh
        """,
        f"{OUT}/orders.parquet",
    )
    _shards(
        con,
        f"""
        SELECT l_orderkey + shard * {OFF} AS l_orderkey,
               l_partkey + shard * {OFF} AS l_partkey,
               l_suppkey + shard * {OFF} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM read_parquet('{SRC}/lineitem.parquet') CROSS JOIN sh
        """,
        f"{OUT}/lineitem.parquet",
    )
    _shards(
        con,
        f"""
        SELECT event_id + shard * {OFF} AS event_id,
               ts + to_microseconds(shard) AS ts,
               user_id + shard * {OFF} AS user_id,
               event_type, value, props
        FROM read_parquet('{SRC}/events.parquet') CROSS JOIN sh
        """,
        f"{OUT}/events.parquet",
    )
    # documents: token-level shard suffix (the F-scale recipe) —
    # shingle spaces are disjoint across shards, near-dup pairs only form
    # INSIDE a shard, pair count stays linear in rows.
    _shards(
        con,
        f"""
        SELECT doc_id + shard * {OFF} AS doc_id,
               text,
               lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM (
          SELECT d.doc_id, s.shard,
                 CASE WHEN s.shard = 0 THEN d.text
                      ELSE list_aggregate(
                             list_transform(
                               list_filter(
                                 string_split_regex(trim(d.text), '[ \t\n\f\r]+'),
                                 x -> x <> ''),
                               t -> t || 'x' || CAST(s.shard AS VARCHAR)),
                             'string_agg', ' ')
                 END AS text,
                 d.lang, d.source
          FROM read_parquet('{SRC}/documents.parquet') d CROSS JOIN sh s
        )
        """,
        f"{OUT}/documents.parquet",
    )

    gen_embeddings()

    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{OUT}/{t}.parquet')"
        ).fetchone()[0]
        print(f"{t}: {n}")


def gen_embeddings() -> None:
    """Fresh clustered unit vectors — sf0.1's geometry (10 labels, 64 dims,
    unit norm) at 20k rows. Copies are NOT usable here: duplicate vectors
    across shards put every kNN/ANN query on a cosine==1.0 tie surface."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim, n_labels, per = 64, 10, 2_000
    rng = np.random.default_rng(42)
    centers = rng.standard_normal((n_labels, dim)).astype(np.float32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.repeat(centers, per, axis=0)
    vecs = vecs + 0.05 * rng.standard_normal(vecs.shape).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    n = len(vecs)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.reshape(-1), type=pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(
                np.repeat(np.arange(n_labels, dtype=np.int32), per)
            ),
        }
    )
    pq.write_table(tbl, f"{OUT}/embeddings.parquet", row_group_size=20_000)


if __name__ == "__main__":
    main()
