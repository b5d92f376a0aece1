"""Fixture table loaders and the staged keyed event series.

All driver fixtures are single Parquet files per table
(`/root/testdata/sf*/NAME.parquet`, see TESTDATA.md). Loading stays a
plain `spark.read.parquet` so Catalyst keeps predicate pushdown,
column pruning, and partition-count autotuning
(`spark.sql.files.maxPartitionBytes` splits big files into tasks) — at
100 TB these would be directory-partitioned tables and the same call
prunes partitions.

One read is staged instead: :func:`event_series`, the per-key
`(user_id, event_id, ts, value, event_type)` series that the window
indicators, the ewm kernels, the keyed signal operators, the 24 h
RANGE frame and the hourly bar rollup all re-read and re-lay out the
same way (hash on `user_id`, sorted by `ts, event_id`). Staging it in
that layout once lets every such consumer plan no scan, no Exchange
and no Sort of its own. Every other read — filtered, pruned to other
columns, or needing `props` — stays on :func:`load_table`, because a
read of the staged relation would stop filters and column pruning at
the cached scan instead of letting them reach parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import scoped_conf
from .staging import persist_laid_out

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor the
# harness runs; fact tables never are.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    # An events.parquet written with TIMESTAMP(NANOS) `ts`, which
    # Spark's schema inference rejects: read nanos as int64 and
    # truncate to micros — exactly what DuckDB does (verified:
    # ...778549829 ns → ...778549 µs), so the oracle sees identical
    # values. `div` is integral division (a double divide would lose
    # precision above 2^53). Only the inference needs the conf: the
    # scan reads the int64 column it resolved whatever the conf is
    # when the plan runs, lazily or staged, so the caller's setting is
    # restored before returning.
    with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition up to core count when the scan yields
    fewer partitions than cores. For CPU-bound per-row kernels (md5
    shingle hashing, tokenization) a single-file scan otherwise pins
    the whole map stage to ONE task; the explicit numPartitions form
    is exempt from AQE partition coalescing, so the width sticks. At
    100 TB the scan already has >= cores splits and this is a no-op
    (guarded by getNumPartitions), costing zero shuffles."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def kernel_width(df: DataFrame, per_partition_bytes: int = 128 << 20,
                 default: int | None = None) -> int | None:
    """Scale-adaptive shuffle width for keyed partition-wide kernels
    (theil_sen_fit, _apply_ewm): with `repartition(key)` the width is
    `spark.sql.shuffle.partitions` — constant — so partition BYTES
    grow linearly with input and a 100 TB run walks into the §5
    spill/OOM cliff. When the optimizer's size estimate says the
    default width would exceed `per_partition_bytes` per partition,
    return the wider explicit count (ceil(bytes/target)); otherwise
    return None and the caller keeps the plain `repartition(key)`
    (identical plan at fixture scale, AQE coalescing intact). The
    estimate is the pre-shuffle optimized-plan size — conservative
    for these kernels, whose input is a pruned scan. `default` is the
    width the caller uses otherwise (the session shuffle width if
    None)."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        default = default or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    if size >= 1 << 50:
        # "Unknown" sentinel (RDD-backed plans report
        # spark.sql.defaultSizeInBytes = Long.MaxValue): no usable
        # estimate — keep the session default rather than exploding
        # the width to 2^36 partitions.
        return None
    need = -(-size // per_partition_bytes)
    return need if need > default else None


def keyed_repartition(df: DataFrame, *cols: str,
                      per_partition_bytes: int = 128 << 20) -> DataFrame:
    """`df.repartition(*cols)` whose width scales with input bytes —
    see :func:`kernel_width`."""
    width = kernel_width(df, per_partition_bytes)
    if width is None:
        return df.repartition(*cols)
    return df.repartition(width, *cols)


#: Staged keyed event series per (applicationId, sf_dir) — see
#: staging.py for the lifecycle.
_SERIES_CACHE: dict[tuple, DataFrame] = {}


def event_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` as the per-key series
    `user_id, event_id, ts, value, event_type`, STAGED (computed once
    per session/fixture, persisted) in the layout every per-key window
    and kernel asks for: hash-partitioned on `user_id` at an explicit
    width and sorted by `(user_id, ts, event_id)` within partitions.
    The cached scan reports that partitioning and ordering, so
    EnsureRequirements plans no Exchange and no Sort above it for
    `PARTITION BY user_id ORDER BY ts, event_id` windows, and drops a
    `repartition(user_id)` at the same width as redundant.

    The width is explicit (`repartition(n, key)`), which AQE never
    coalesces, so the layout the plans rely on is the one cached. It
    is one partition per core — what AQE would coalesce a small
    shuffle to — capped at the session shuffle width, or
    :func:`kernel_width`'s byte-based width when the input would
    overfill those partitions. Taking a plain session's 200 shuffle
    partitions instead would run every kernel above the cache as 200
    mostly empty Python tasks, with no exchange left for AQE to
    coalesce (measured: `ema` 0.29 s → 5.7 s at sf0.1 on 4 cores).
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _SERIES_CACHE.get(key)
    if cached is not None:
        return cached
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", "event_type")
    width = min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                spark.sparkContext.defaultParallelism)
    width = kernel_width(ev, default=width) or width
    series = persist_laid_out(
        ev.repartition(width, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id"))
    _SERIES_CACHE[key] = series
    return series
