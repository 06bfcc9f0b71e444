"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the machine's
core count) with a ``$SPARK_GRAFT_DRIVER_MEM`` driver heap (default: half of
physical memory, at most 24g); the same configuration block is what we would
ship to a 1000-executor cluster — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), broadcast threshold sized for dimension
tables, Arrow enabled for the few pandas-UDF operators, and a UTC session
timezone so results are oracle-comparable.

``local_df`` is the package's only constructor for driver-held rows
(literals, sheet tabs, fetched pages, collected results): it builds an
Arrow local relation, which starts no Python worker.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# Whole-stage-codegen compile cache entries (see get_spark).
CODEGEN_CACHE_ENTRIES = 10000


def default_driver_mem() -> str:
    """Half of physical memory, capped at 24g: a heap pinned with ``-Xms``
    larger than the machine makes the JVM die at start."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 * 1024, phys // 2 // (1024 * 1024))}m"


def get_spark(
    app_name: str = "migdar-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    At 100 TB the same knobs matter, with different values supplied by the
    deployment: ``spark.sql.shuffle.partitions`` ~ 2-3x total cores,
    ``spark.sql.files.maxPartitionBytes`` sized so a scan task fits in memory,
    and AQE left on to coalesce/skew-split at runtime.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    # Long-lived-process memory retention (set BEFORE the JVM gateway
    # launches so the JVM and the reused Python workers it spawns inherit
    # them). Rationale (guide §5): a task's large numpy/Arrow buffers are
    # mmap'd by glibc and munmap'd on free, and Arrow's default jemalloc
    # pool returns memory to the OS on decay — so every task pays
    # page-fault + zeroing cost for the SAME working set the previous task
    # just released. Raising the mmap threshold and disabling trim keeps a
    # reused worker's arena warm across tasks (bounded by the worker's
    # steady-state peak, which worker.reuse retains anyway); routing Arrow
    # through the system allocator lets it share that warm arena. On
    # lazily-faulted VM memory (this sandbox: first-touch measured as low
    # as ~10 MB/s in bad host phases) the effect is dramatic — the
    # Python-kernel ngram query A/B'd 35s -> 3.8s median — but the churn
    # being removed is real on any hardware. Env-overridable; setdefault
    # never overrides an operator's explicit choice.
    for k, v in (
        ("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024)),
        ("MALLOC_TRIM_THRESHOLD_", str(1 << 40)),
        ("ARROW_DEFAULT_MEMORY_POOL", "system"),
    ):
        os.environ.setdefault(k, v)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle parallelism ~ cores for local runs; AQE coalesces the rest.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * cpus))
        # Deterministic, oracle-comparable timestamps (DuckDB is UTC-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # shuffle-hash/broadcast conversion with real stats.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Apply AQE partition coalescing/skew handling to stages under a
        # persist() too — otherwise cached subtrees (LSH shingle/band frames)
        # run at the static shuffle width regardless of data size.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Dimension tables (nation/region/translations/tribunals) broadcast;
        # sized so fact tables do NOT. A 64 MB threshold made Spark broadcast
        # the sf0.1 lineitem fact table (10 MB file; Catalyst's column-pruned
        # estimate ~4 MB): a single-threaded hash-relation build locally and
        # an impossible plan at 100 TB. 3 MB keeps every genuine dim
        # (pruned orders ~0.8 MB, customer, supplier, nation, region) on the
        # broadcast path and the fact table streaming; AQE upgrades shuffle
        # joins to broadcast at runtime when a *filtered* side turns out
        # small, using real stage stats instead of file-size guesses.
        .config("spark.sql.autoBroadcastJoinThreshold", str(3 * 1024 * 1024))
        # Arrow for pandas UDFs, mapInPandas and toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # ContextCleaner only reclaims unreferenced broadcast/shuffle/cache
        # blocks when the driver GCs; with a multi-GB heap that is rare, and
        # long sessions slow down as block-manager debris accumulates
        # (measured: a 14-query warmup pass degraded later queries 2-8x until
        # a GC ran). Ask for a periodic GC every 5 min instead of the 30 min
        # default — cheap insurance for exactly the long-running multi-query
        # sessions this engine targets.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # Whole-stage-codegen compile cache (STATIC conf — applies at JVM
        # start). The default is 100 entries; this engine's registry alone
        # is 200+ distinct plans x several codegen units each, so under the
        # default EVERY query re-janinos its generated code on each
        # invocation once other queries have run — measured 35% of the
        # whole per-query wall at sf0.1 (28-query A/B: 38.0s -> 24.7s with
        # 10k entries). The same recompilation tax applies to any
        # long-lived multi-query session (driver and executors both hold
        # this cache); entries are compiled classes, so 10k is tens of MB
        # — negligible against any executor heap.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
        # Pin the committed heap to the max (-Xms = -Xmx): G1 UNCOMMITS
        # regions after full/periodic GCs, so a multi-query session that
        # GCs between queries re-faults the same heap pages over and over
        # — pure overhead on any OS, catastrophic on lazily-faulted VM
        # memory (see the env block above). Standard practice for
        # dedicated Spark JVMs (committed != resident: untouched pages
        # still fault lazily once, they just never get given back).
        # Applied at JVM launch via spark-submit.
        .config("spark.driver.extraJavaOptions", f"-Xms{driver_mem}")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """The package's one way to turn driver-held rows into a DataFrame.

    ``rows`` are all tuples (or ``Row``s, matched by position) or all dicts
    (matched by name); ``schema`` is a DDL string or a ``StructType``. The
    rows become one ``pyarrow.Table`` of the schema's Arrow types, which
    Spark plans as a ``LocalTableScan`` of any size, zero rows included,
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says: no Python
    worker starts when it runs. A list, an RDD or an empty pandas frame
    would plan as a Python RDD, whose first task in a fresh JVM pays about
    2.5 s of worker start-up. The scan splits into
    ``min(rows, defaultParallelism)`` partitions in row order.

    Nested struct values may be tuples, ``Row``s or dicts; naive datetimes
    are read as UTC. ``schema=None`` (dict rows only) lets Arrow infer the
    types, so a nested dict becomes a struct, not a map.
    """
    if schema is None:
        return spark.createDataFrame(pa.Table.from_pylist(list(rows)))
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    rows = pa.array(rows, type=pa.struct(to_arrow_schema(struct)))
    return spark.createDataFrame(pa.Table.from_struct_array(rows), struct)


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, names=TESTDATA_TABLES):
    """Load the driver's parquet tables as a dict name -> DataFrame."""
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}
