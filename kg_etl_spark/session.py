"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same configs
are cluster-safe (AQE, Arrow, sane shuffle partitioning). On a real
1000-executor cluster only master/memory change — the query code does
not.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# AQE coalesces small post-shuffle partitions at runtime, so a value
# sized for the largest stage is safe for the small ones too. 16 (not
# 32) is the measured local-mode sweet spot at bench SF — the mapper
# split count, which AQE can't shrink, dominates tiny stages (A/B on
# the 10 heaviest queries: 16 → 12.4-13.0 s vs 32 → 13.9-14.3 s).
# Cluster deployments size this to the data (SCALE.md), and every
# catalog query is partition-count-independent by the determinism
# gate (tools/check_determinism.py runs 7 vs 32).
DEFAULT_SHUFFLE_PARTITIONS = "16"


def get_spark(
    app_name: str = "kg_etl_spark",
    shuffle_partitions: str | None = None,
    checkpoint_dir: str | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism. All knobs here
    are standard Apache Spark configs; nothing environment-specific.

    ``checkpoint_dir`` (or ``SPARK_GRAFT_CHECKPOINT_DIR``) is the
    cluster-reliability switch: setting it flips every lineage cut in
    the repo (``df.lineage_cut`` — kg_etl_spark/cutpoint.py) from
    ``localCheckpoint`` to a RELIABLE ``checkpoint()`` whose blocks
    survive executor loss. Point it at durable shared storage
    (HDFS/object store) on a real cluster; leave unset in local mode,
    where reliability buys nothing and the write would only cost.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # half of RAM, at most 16g: a heap as large as RAM got the JVM
        # killed; an oversized one is a GC liability (sf0.1: a 48g heap
        # made ngram_jaccard 6.0s with 16s full-GC spikes, vs 2.7s at
        # 12g). 10×-stress runs override via SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(ram // 2, 16 << 30) >> 20}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata parquet uses TIMESTAMP(NANOS) (pandas/pyarrow default),
        # which Spark rejects; read as long and convert in read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # µs timestamps without tz would read as TIMESTAMP_NTZ (which
        # unix_micros & co. reject); read as instants instead — the raw
        # stored micros become the UTC epoch, matching DuckDB's naive
        # timestamp semantics exactly.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    ckdir = checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if ckdir:
        # must precede getOrCreate to take effect on a NEW context;
        # cleanCheckpoints garbage-collects checkpoint files when their
        # DataFrames are collected (long-lived sessions don't leak disk)
        builder = builder.config(
            "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if ckdir:
        spark.sparkContext.setCheckpointDir(ckdir)
    return spark


TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """SQL surface (SURVEY §7.2 step 9): register every testdata table
    as a temp view so `spark.sql(...)` works directly over the same
    scans (pushdown/pruning identical to the DataFrame path).

    Soft-fails per table: one unreadable/absent table must not take
    down SQL queries over the others.
    """
    for name in TESTDATA_TABLES:
        try:
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)
        except Exception:  # noqa: BLE001 - missing/corrupt table is non-fatal
            continue


# nanosecond-timestamp columns per table (read as long-nanos under
# nanosAsLong, converted losslessly to timestamp — data is µs-aligned).
_NANOS_TS_COLS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


import weakref

# Per-session memo of analyzed scan DataFrames: file listing + footer
# schema read + conf round-trips cost ~75 ms per read_table call, and a
# catalog query calls it 1-4×. Row DATA is re-read at every action, but
# the FILE LISTING is captured at first analysis — files appended to
# sf_dir later in the session are not seen by the memoized plan. That is
# the right trade for the static bench/test dirs this serves; a caller
# that appends to sf_dir mid-session must call
# `spark.catalog.refreshByPath(sf_dir)` AND bypass/clear the memo
# (`clear_read_memo(spark)`) to observe new files. Weak-keyed so a
# stopped/collected session never leaks or
# resurrects stale plans into a new session.
_READ_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Scan one testdata table (plain parquet; pushdown/pruning native).

    Nanos-timestamp columns come back as LongType and are converted via
    integer division (`div 1000`) — double math would lose precision at
    1e18 epoch-nanos.

    ``nanosAsLong`` is set defensively at runtime: callers (e.g. an
    external driver) may inject a session built without ``get_spark``,
    and it is a runtime-settable SQL conf.
    """
    try:
        memo = _READ_MEMO.setdefault(spark, {})
    except TypeError:  # non-weakrefable session stub (tests/mocks)
        memo = {}
    key = (sf_dir, name)
    if key in memo:
        return memo[key]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Read tz-less µs timestamps as instants (not TIMESTAMP_NTZ) and pin
    # the session to UTC: stored micros == epoch micros, identical to
    # DuckDB's naive-timestamp epoch, independent of driver environment.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from pyspark.sql import functions as F

    for c in _NANOS_TS_COLS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
    memo[key] = df
    return df


def clear_read_memo(spark: SparkSession) -> None:
    """Drop the memoized scan plans for this session — required (along
    with ``spark.catalog.refreshByPath``) before :func:`read_table` can
    observe files appended to an sf_dir it already analyzed."""
    try:
        _READ_MEMO.pop(spark, None)
    except TypeError:  # non-weakrefable session stub
        pass
