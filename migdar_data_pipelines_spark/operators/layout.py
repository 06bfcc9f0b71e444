"""Multi-dimensional data layout: Z-order (Morton) clustering for data
skipping.

The lakehouse table-maintenance operation (Delta OPTIMIZE ZORDER BY /
Iceberg sort-order rewrite) re-expressed as plain Spark: interleave the bits
of several bounded integer dimensions into one Morton key, then
``repartitionByRange`` on that key so each output file covers a small
hyper-rectangle of the dimension space. Parquet min/max footer stats on the
ORIGINAL columns then prune multi-dimensionally: a query filtering on ANY
z-ordered dimension skips most files, which a single-column sort only gives
for its leading column. This is the write-side twin of the read-side
pruning the plan-shape tests assert — at 100 TB the layout decides whether
a point query reads gigabytes or terabytes.

The Morton key is pure integer div/mod arithmetic (no engine bit-op
dialect), so generated SQL reproduces it exactly — same portability
contract as the md5 sketches. Keys fit a signed long up to
``bits * len(cols) <= 62``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_key(cols: list[Column | str], bits: int = 10) -> Column:
    """Morton interleave of ``len(cols)`` non-negative integer columns, each
    truncated to ``bits`` low bits: output bit ``b*ncols + i`` is bit ``b``
    of column ``i``. One codegen'd arithmetic expression (ncols*bits terms),
    no UDF, no shuffle."""
    ncols = len(cols)
    if bits * ncols > 62:
        raise ValueError(f"bits*ncols = {bits * ncols} exceeds a signed long")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            # shiftright == floor-div by 2^b for the non-negative inputs this
            # key requires; stays integer end-to-end (Column `/` is DOUBLE
            # division in Spark and would round-trip through floats)
            bit = F.shiftright(c.cast("long"), b) % 2
            out = out + bit * F.lit(2 ** (b * ncols + i))
    return out


def zorder_key_sql(exprs: list[str], bits: int = 10) -> str:
    """DuckDB mirror of ``zorder_key`` from the same constants: integer
    ``//`` and ``%`` only."""
    ncols = len(exprs)
    terms = [
        f"((({e}) // {2 ** b}) % 2) * {2 ** (b * ncols + i)}"
        for b in range(bits)
        for i, e in enumerate(exprs)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def cluster_by_zorder(
    df: DataFrame,
    cols: list[Column | str],
    bits: int = 10,
    num_partitions: int | None = None,
    key_col: str = "__z",
) -> DataFrame:
    """Range-partition ``df`` on its Morton key — the OPTIMIZE ZORDER BY
    write path: downstream ``write.parquet`` then produces one file per
    partition whose footer min/max on each original dimension covers only a
    small hyper-rectangle. The z column stays on the frame (callers drop it
    after writing, or keep it as a clustering key)."""
    z = zorder_key(cols, bits)
    out = df.withColumn(key_col, z)
    npart = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return out.repartitionByRange(npart, F.col(key_col))


__all__ = ["zorder_key", "zorder_key_sql", "cluster_by_zorder"]
