"""W1-W4 + C4: the reference's order-dependent operators.

In the reference these are stateful single-threaded generators whose semantics
depend on stream order (SURVEY.md §2.8). The engine convention (§7.4): every
source stamps an explicit ``__ord`` column; each operator here takes the order
column explicitly and is deterministic under any partitioning.

One plan per operator, each one Spark window. Key-partitioned operators
(first_seen_dedup, dedup_suffix) sort only within key groups. The
global-order ones (forward_fill, add_ordinal, and running_totals without
``partition_by``) use ``Window.partitionBy(lit(1))``, which Spark plans as
one ``SinglePartition`` exchange and one sort: the whole frame passes
through one task. That is the right plan for what the reference orders
(a sheet of a few thousand rows, a top-K frame, a value histogram) and for
every workload that runs these operators. Building a frame runs no Spark
job: no routing probe, no count, no persist. A distributed plan for the
global order comes back only with a benchmark workload whose input needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType


ORD = "__ord"


def stamp_ord(df: DataFrame) -> DataFrame:
    """Stamp the engine's monotonic order column:
    ``monotonically_increasing_id`` preserves file/partition order without
    any shuffle."""
    return df.withColumn(ORD, F.monotonically_increasing_id())


def forward_fill(df: DataFrame, col: str, order_col: str = ORD) -> DataFrame:
    """W1: col := last non-null seen in order (flows/datasets.py:303-309
    forward-fills chart_title). Leading nulls stay null."""
    w = (
        Window.partitionBy(F.lit(1))
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(col, F.last(col, ignorenulls=True).over(w))


def dedup_suffix(
    df: DataFrame, key: str, order_col: str = ORD, out: str | None = None
) -> DataFrame:
    """W2: 2nd+ occurrence of ``key`` gets suffix .1, .2, ... in stream order
    (flows/organisations.py:44-52 suffixes duplicate entity_ids). Partitioned
    by key -> scales; sort only within duplicate groups."""
    out = out or key
    w = Window.partitionBy(key).orderBy(order_col)
    rn = F.row_number().over(w)
    return df.withColumn(
        out,
        F.when(rn > 1, F.concat(F.col(key).cast("string"), F.lit("."), (rn - 1).cast("string")))
        .otherwise(F.col(key).cast("string")),
    )


def add_ordinal(
    df: DataFrame, name: str = "order_index", order_col: str = ORD
) -> DataFrame:
    """C4/W3: global 0-based ordinal (flows/datasets.py:341
    ``order_index = i``), a ``row_number`` over ``order_col``. Deterministic
    whenever ``order_col`` is unique (the engine's ``__ord`` convention
    guarantees that)."""
    w = Window.partitionBy(F.lit(1)).orderBy(order_col)
    return df.withColumn(name, F.row_number().over(w).cast("long") - 1)


def first_seen_dedup(
    df: DataFrame, keys: list[str], order_col: str = ORD
) -> DataFrame:
    """W4/R3: first row per key wins (flows/broken_links.py:34-43 emits each
    URL once, keeping the first carrying row). Partitioned by key — scales to
    arbitrary data; map-side partial via AQE skew handling."""
    w = Window.partitionBy(*keys).orderBy(order_col)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def explode_dedup(
    df: DataFrame,
    array_col: str,
    out_col: str,
    order_col: str = ORD,
    keep: list[str] | None = None,
) -> DataFrame:
    """R3 ``unwind``: one row per element of ``array_col``, each distinct value
    emitted once globally, first carrying row wins (broken_links.py:34-43)."""
    exploded = df.select(
        *(keep or [c for c in df.columns if c != array_col]),
        F.explode(array_col).alias(out_col),
    )
    return first_seen_dedup(exploded, [out_col], order_col=order_col)


def _order_specs(order_by) -> list[tuple[str, str]]:
    """Normalize order_by items (``"col"`` or ``("col", "asc"|"desc")``)."""
    out = []
    for s in order_by:
        name, direction = (s, "asc") if isinstance(s, str) else s
        if direction not in ("asc", "desc"):
            raise ValueError(f"order direction must be asc/desc, got {direction!r}")
        out.append((name, direction))
    return out


def running_totals(
    df: DataFrame,
    value_col: str | None,
    order_by,
    partition_by: list[str] | None = None,
    cum_col: str = "cum",
    rank_col: str | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` as ``cum_col`` (long for integral
    values, else double) and, with ``rank_col``, a 1-based ``row_number``,
    both over ``Window.partitionBy(partition_by or lit(1))`` in ``order_by``
    order. ``value_col=None`` is a rank-only call. ``order_by`` items are
    ``"col"`` or ``("col", "asc"|"desc")`` and must totally order the rows
    of each group for a deterministic rank."""
    if value_col is None and rank_col is None:
        raise ValueError("running_totals needs value_col and/or rank_col")
    ocols = [
        F.col(n).desc() if d == "desc" else F.col(n).asc()
        for n, d in _order_specs(order_by)
    ]
    w = Window.partitionBy(*(partition_by or [F.lit(1)])).orderBy(*ocols)
    out = df
    if value_col is not None:
        integral = isinstance(df.schema[value_col].dataType, IntegralType)
        v = F.col(value_col).cast("long" if integral else "double")
        out = out.withColumn(
            cum_col, F.sum(v).over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    if rank_col:
        out = out.withColumn(rank_col, F.row_number().over(w).cast("long"))
    return out


def ewma_by(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    val_col: str,
    alpha: float = 0.25,
    window: int = 8,
) -> DataFrame:
    """Bounded-window exponentially-weighted moving average per key — the
    smoothing pass metric/anomaly monitors run over a value stream:

        ewma_t = sum_{j=0..m-1} (1-a)^j x_{t-j} / sum_{j=0..m-1} (1-a)^j

    with m = min(window, rows so far). The window bound is what makes
    this a WINDOW FUNCTION instead of a prefix scan: the full recurrence
    needs running state (the streaming side owns that shape); the bounded
    form is one frame aggregate, embarrassingly parallel per key, and the
    tail weights it drops are (1-a)^window — under 1e-1 of the mass at
    the defaults and documented rather than hidden.

    Engine shape: collect_list over rowsBetween(-(window-1), 0) — frame
    order IS the ORDER BY order, so the list runs oldest->newest — then
    one higher-order fold per row (m <= window terms); the denominator is
    the closed form (1 - q^m)/(1 - q). No shuffle beyond the one
    partitionBy(key) exchange every keyed window pays. Adds ``ewma``
    (6dp; the weights are float — identical IEEE pow/mul both engines
    round well inside 6dp at these magnitudes).

    NULL ``val_col`` semantics (ADVICE r7): NULL observations are
    EXCLUDED from the frame — the average runs over the non-null values
    of the last ``window`` rows, m counts only those, and a frame with
    no non-null values yields ewma NULL (try_divide) rather than a
    division error. The generated mirror applies the same list_filter,
    so both engines agree on nullable streams.
    """
    from pyspark.sql import Window

    q = 1.0 - alpha
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order_cols)
        .rowsBetween(-(window - 1), 0)
    )
    arr = F.collect_list(F.col(val_col).cast("double")).over(w)
    m = F.size("__arr")
    num = F.aggregate(
        F.zip_with(
            F.col("__arr"),
            F.sequence(F.lit(1), m),
            lambda x, i: x * F.pow(F.lit(q), (m - i).cast("double")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    den = (F.lit(1.0) - F.pow(F.lit(q), m.cast("double"))) / F.lit(1.0 - q)
    return (
        df.withColumn("__arr", arr)
        # try_divide: an all-NULL frame gives m=0 -> den=0; ANSI division
        # would throw, NULL is the contract (see docstring)
        .withColumn(
            # explicit IEEE half-up (floor(x*1e6 + 0.5)/1e6), NOT
            # F.round(double, 6): Spark rounds the double's shortest decimal
            # repr, so an ...xxxxxx5 shortest repr reads as an exact half and
            # rounds up while DuckDB's multiply sees the true binary just
            # below it — the ~1e-7/row flip the sf0.1 parity gate measured
            # on streaming_ewma (PARITY r12); same contract both operators
            "ewma",
            F.floor(F.try_divide(num, den) * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0),
        )
        .drop("__arr")
    )


def ewma_by_sql(
    from_sql: str,
    group_cols: list[str],
    order_cols: list[str],
    val_expr: str,
    alpha: float = 0.25,
    window: int = 8,
) -> str:
    """DuckDB mirror of ``ewma_by`` — same frame, same left-to-right
    weighted fold (list_sum of the transformed frame list is sequential),
    same closed-form denominator. NULL observations are list_filtered
    out of the frame before weighting (Spark's collect_list drops them
    implicitly — ADVICE r7), and an all-NULL frame yields NULL via
    nullif on the denominator."""
    q = repr(1.0 - alpha)
    g = ", ".join(group_cols)
    o = ", ".join(order_cols)
    return f"""
WITH a AS (
  SELECT *, array_agg(CAST({val_expr} AS DOUBLE)) OVER (
              PARTITION BY {g} ORDER BY {o}
              ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW
            ) AS arr
  FROM {from_sql}
),
fa AS (
  SELECT * EXCLUDE (arr),
         list_filter(arr, x -> x IS NOT NULL) AS fl
  FROM a
)
SELECT * EXCLUDE (fl),
       floor(
         list_sum(list_transform(list_zip(fl, generate_series(1, len(fl))),
           t -> t[1] * power(CAST({q} AS DOUBLE),
                             CAST(len(fl) - t[2] AS DOUBLE))))
         / nullif((1 - power(CAST({q} AS DOUBLE), CAST(len(fl) AS DOUBLE)))
                  / CAST({repr(1.0 - (1.0 - alpha))} AS DOUBLE), 0)
         * 1000000.0 + 0.5) / 1000000.0 AS ewma
FROM fa
"""


def interpolate_linear(
    df: DataFrame,
    col: str,
    x_col: str,
    partition_by: list[str],
    order_by: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Per-key LINEAR interpolation of NULL gaps — the numeric companion to
    ``forward_fill`` (W1): an interior NULL is replaced by the value on the
    straight line between its nearest non-null neighbours, weighted by the
    numeric ``x_col`` (typically epoch time), not by row position.

        v = v_prev + (v_next - v_prev) * (x - x_prev) / (x_next - x_prev)

    Contract: only INTERIOR gaps fill — leading/trailing NULLs (no
    neighbour on one side) stay NULL; a degenerate bracket with
    x_next = x_prev (duplicate x) holds the previous value (the limit from
    the left). Non-null rows pass through bit-unchanged.

    Shape at scale: two frames over ONE per-key sort (last-non-null
    looking back, first-non-null looking forward share the same window
    ordering, so Spark plans a single exchange + sort); the interpolation
    itself is one IEEE-double expression in a canonical order, mirrored
    verbatim by DuckDB's IGNORE NULLS window mirror in the registered
    oracle. No joins, nothing collected."""
    order = [F.col(c) for c in (order_by or [x_col])]
    wprev = (
        Window.partitionBy(*partition_by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy(*partition_by)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(col)
    x = F.col(x_col).cast("double")
    xn = F.when(v.isNotNull(), F.col(x_col)).cast("double")
    pv = F.last(v, ignorenulls=True).over(wprev)
    px = F.last(xn, ignorenulls=True).over(wprev)
    nv = F.first(v, ignorenulls=True).over(wnext)
    nx = F.first(xn, ignorenulls=True).over(wnext)
    den = nx - px
    interp = pv + (nv - pv) * ((x - px) / den)
    filled = (
        F.when(v.isNotNull(), v)
        .when(pv.isNotNull() & nv.isNotNull() & (den != 0), interp)
        .when(pv.isNotNull() & nv.isNotNull(), pv)
    )
    return df.withColumn(out_col or col, filled)


def session_paths(
    events: DataFrame,
    gap_minutes: int = 30,
    max_len: int = 5,
    top_k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Top-K session paths — the clickstream "what do journeys look like"
    primitive: sessionize by inactivity gap (same lag+cumsum contract as
    ``streaming/windows.sessionize``), take each session's first
    ``max_len`` event types in (ts, event_id) order, join them into a
    path string, and return the ``top_k`` most frequent paths with
    deterministic ranks (count DESC, path ASC).

    Shape at scale: TWO per-user linear passes — one exchange+sort on
    (user) for the session-boundary lag/cumsum, one on (user, session)
    for the within-session row_number (the second sort is a re-sort of
    already-user-clustered rows; AQE coalesces the exchange). The truncated
    path assembly is a groupBy over (user, session) carrying at most
    ``max_len`` small structs per session; path counting is a map-side-
    combinable groupBy on the path string; the final top-K is
    TakeOrderedAndProject (per-partition heaps, no global sort), ranked by
    ``running_totals``' ``row_number`` over the K-row frame."""
    from ..streaming.windows import _ensure_event_time

    events = _ensure_event_time(events)
    wu = Window.partitionBy(user_col).orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    prev_us = F.unix_micros(F.lag("ts").over(wu))
    ts_us = F.unix_micros(F.col("ts"))
    new_s = F.when(
        prev_us.isNull() | ((ts_us - prev_us) > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    wsum = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.withColumn(
        "__sid", F.sum(new_s).over(wsum).cast("long")
    )
    wr = Window.partitionBy(user_col, "__sid").orderBy("ts", "event_id")
    truncated = (
        sess.withColumn("__rn", F.row_number().over(wr))
        .where(F.col("__rn") <= max_len)
    )
    paths = (
        truncated.groupBy(user_col, "__sid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__rn"), F.col(type_col)))
                    ),
                    lambda s: s[type_col],
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    top = paths.orderBy(F.col("n_sessions").desc(), F.col("path")).limit(top_k)
    return (
        running_totals(top, None, [("n_sessions", "desc"), "path"], rank_col="rank")
        .select("path", "n_sessions", "rank")
        .orderBy("rank")
    )


def session_paths_sql(
    gap_minutes: int = 30,
    max_len: int = 5,
    top_k: int = 20,
    table: str = "events",
) -> str:
    """Generated DuckDB mirror of ``session_paths`` (same session contract
    as the session_windows_events oracle)."""
    return f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL {gap_minutes} MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM {table}
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
), r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sid
                               ORDER BY ts, event_id) AS rn
  FROM s
), p AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY rn) AS path
  FROM r WHERE rn <= {max_len} GROUP BY user_id, sid
), c AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p GROUP BY path
)
SELECT path, n_sessions,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path) AS BIGINT) AS rank
FROM c ORDER BY n_sessions DESC, path LIMIT {top_k}
"""


def attribution_report(
    events: DataFrame,
    conversion_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """First-touch / last-touch conversion attribution — the marketing
    question ``funnel_events_users`` doesn't answer: when a conversion
    fires, WHICH earlier channel gets the credit? For every conversion
    event, last-touch credits the most recent strictly-earlier
    non-conversion event of the same user, first-touch the earliest one;
    users converting with no prior touch credit the 'direct' channel.
    Output: one row per (attribution, channel) with conversion count and
    total converted value in cents.

    Shape at scale: BOTH carried channels (running last + running first
    of the non-conversion types) share ONE per-user exchange+sort — the
    frames are identical (unbounded preceding .. 1 preceding), so
    Catalyst folds them into a single Window node (plan-tested); each
    conversion row then EXPLODES into its two (mode, channel) credits and
    one map-side-combinable groupBy counts them — no union, so the window
    subtree is never duplicated. Deterministic: window order is
    (ts, event_id) — a total order."""
    from ..streaming.windows import _ensure_event_time

    events = _ensure_event_time(events)
    w = (
        Window.partitionBy(user_col)
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col(type_col) != conversion_type
    touch = F.when(is_touch, F.col(type_col))
    marked = events.select(
        user_col,
        type_col,
        F.round(F.col(value_col) * 100).cast("long").alias("cents"),
        F.last(touch, ignorenulls=True).over(w).alias("lt"),
        F.first(touch, ignorenulls=True).over(w).alias("ft"),
    ).where(F.col(type_col) == conversion_type)
    credits = marked.select(
        "cents",
        F.explode(
            F.array(
                F.struct(
                    F.lit("last_touch").alias("attribution"),
                    F.coalesce(F.col("lt"), F.lit("direct")).alias("channel"),
                ),
                F.struct(
                    F.lit("first_touch").alias("attribution"),
                    F.coalesce(F.col("ft"), F.lit("direct")).alias("channel"),
                ),
            )
        ).alias("c"),
    )
    return credits.groupBy(
        F.col("c.attribution").alias("attribution"),
        F.col("c.channel").alias("channel"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("conversions"),
        F.sum("cents").cast("long").alias("value_cents"),
    )


def attribution_report_sql(
    conversion_type: str = "purchase", table: str = "events"
) -> str:
    """Generated DuckDB mirror of ``attribution_report``: IGNORE NULLS
    last_value/first_value over the identical 1-preceding frame."""
    return f"""
WITH marked AS (
  SELECT user_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         last_value(CASE WHEN event_type <> '{conversion_type}'
                         THEN event_type END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
         first_value(CASE WHEN event_type <> '{conversion_type}'
                          THEN event_type END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft
  FROM {table}
),
conv AS (SELECT * FROM marked WHERE event_type = '{conversion_type}')
SELECT 'last_touch' AS attribution, coalesce(lt, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS conversions,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM conv GROUP BY coalesce(lt, 'direct')
UNION ALL
SELECT 'first_touch' AS attribution, coalesce(ft, 'direct') AS channel,
       CAST(count(*) AS BIGINT) AS conversions,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM conv GROUP BY coalesce(ft, 'direct')
"""
