"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; production assumes a multi-executor
cluster. Every config below is cluster-safe: AQE handles runtime
re-planning (skew joins, partition coalescing) at any scale, the UTC
session timezone pins timestamp semantics for the DuckDB oracle, and
Arrow is enabled for the (rare) Python hops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "rocketmq_flink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Defaults are sized for local[N] testing but are the same knobs a
    1000-executor deployment would set: AQE on, advisory partition sizes,
    UTC timestamps, Arrow for Python interchange.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing (guide §4.2), measured on a 100k-message
        # fixed-width decode (24-byte bodies, min-of-5): 10k (default)
        # 0.333 s, 50k 0.296 s, 200k 0.290 s — narrow envelope rows
        # amortize per-batch overhead, so raise the default; 50k keeps
        # per-batch memory bounded for the KB-payload media paths
        # (which are panel-sized anyway). Optimization r09, VERDICT r8
        # item 9. That measurement had no null nested values: a null map
        # or array column costs time quadratic in the rows per batch on
        # an Arrow hop into Python (a null `props` map on the sink hop:
        # +0.2 s at 15k rows, +1.4 s at 30k), so encoders emit empty maps.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores ts as TIMESTAMP(NANOS); Spark reads it as
        # LongType nanos under this flag (load_tables converts to
        # TimestampType — lossless, the fixture has micro precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLE_NAMES = (
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


class _LazyTables:
    """Mapping over the fixture tables that opens each parquet ON FIRST
    ACCESS. Eager loading cost ~10 parquet footer reads of driver time
    per QUERY BUILD (measured ~1 s — more than many queries' execution);
    catalog queries touch 1-3 tables, so laziness removes that tax for
    every query while keeping the `tables["name"]` call sites unchanged.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict = {}

    def __getitem__(self, name: str):
        if name not in TABLE_NAMES:
            raise KeyError(name)
        if name not in self._cache:
            self._cache[name] = _read_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def __iter__(self):
        return iter(TABLE_NAMES)

    def __len__(self):
        return len(TABLE_NAMES)

    def keys(self):
        return list(TABLE_NAMES)

    def items(self):
        return [(name, self[name]) for name in TABLE_NAMES]

    def values(self):
        return [self[name] for name in TABLE_NAMES]


def _read_table(spark: SparkSession, sf_dir: str, name: str):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_t = df.schema["ts"].dataType
        if isinstance(ts_t, T.LongType):
            # TIMESTAMP(NANOS) read as long nanos; integer-divide to
            # micros (NOT float `/`: 1.7e18 ns overflows double's 2^53
            # mantissa).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_t, T.TimestampNTZType):
            # TIMESTAMP(MICROS, ntz): lossless under the UTC session
            # timezone pinned in load_tables; gives every downstream
            # operator (unix_micros, watermarks) the instant type it
            # expects.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> _LazyTables:
    """Load the fixture tables from a scale-factor directory (lazily —
    each parquet is opened on first access).

    Parquet scans get predicate pushdown + column pruning from Catalyst
    for free; callers should select only what they need.
    """
    # events.parquet stores TIMESTAMP(NANOS): unreadable by stock Spark.
    # This legacy conf is runtime-settable, so set it here rather than at
    # session build time — callers (e.g. the verification driver) may hand
    # us a session we didn't configure.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Instant semantics must not depend on who built the session: pin UTC
    # (runtime-settable) so an NTZ->TIMESTAMP cast is the identity on the
    # stored micros and oracle comparisons agree on absolute values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _LazyTables(spark, sf_dir)


def spread_for_compute(df, min_partitions: int | None = None):
    """Ensure a DataFrame has at least cluster-parallelism partitions
    before CPU-heavy per-row work (shingling, hashing, codec).

    Parquet splits at row-group boundaries, so a small file (one row
    group) scans as ONE partition no matter how many cores exist — and
    a regex-heavy explode then runs single-threaded while 31 cores
    idle (measured: the sf0.1 shingle explode alone took ~4.5 s on one
    task). At real corpus scale the input already has >= parallelism
    partitions and this is a metadata-only no-op — the round-robin
    shuffle only ever happens when the input is small enough for it to
    be trivially cheap. Streaming DataFrames (no .rdd) pass through
    untouched, preserving the map-only/streamable property of the
    signature operators."""
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df  # streaming plan: leave as-is
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if n < target else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view for spark.sql use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
