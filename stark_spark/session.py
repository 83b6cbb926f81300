"""SparkSession factory with scale-oriented defaults.

The reference builds sessions via ``STARKSession.builder()``
(/root/reference/sql/STARKSession.scala:19-27) whose only jobs are to
inject a join strategy and register ``st_*`` functions. Our engine
needs neither a custom Strategy (joins are explicit plan rewrites) nor
a UDT — this module just centralizes the confs that matter at scale:
AQE (runtime re-plan, skew-join splitting, broadcast switch), Arrow
for every pandas UDF boundary, and shuffle-partition sizing — plus
`local_frame`, the one way the package turns driver-side rows into a
frame (through Arrow, without a Python worker).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Confs applied to every session we build. At 100 TB / 1000 executors the
# absolute numbers (shuffle partitions, maxPartitionBytes) come from the
# cluster; what must always be on is AQE + Arrow.
_SCALE_CONFS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, switch sort-merge->broadcast when a side turns out small.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas — the geometry refine path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast anything under 64 MB (dim tables, query geometries, bounds
    # manifests). AQE can still upgrade larger sides at runtime.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet scans: keep row-group pruning + column pruning effective.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Timestamps in testdata are TIMESTAMP_NTZ-ish micros; pin UTC so
    # epoch arithmetic matches the DuckDB oracle exactly.
    "spark.sql.session.timeZone": "UTC",
    # The testdata parquet carries TIMESTAMP(NANOS) (unsupported natively);
    # read as long nanos — `datasets.load` converts to TimestampType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-built frame (``rows``: tuples in ``schema`` field order;
    ``schema``: DDL string or StructType) as an Arrow-backed
    ``LocalRelation``.

    ``createDataFrame(<python list>)`` parallelizes the list and
    re-pickles it through a ``PythonRDD`` — its first action starts a
    Python daemon and workers just to hand back rows the driver already
    holds. The Arrow-table form ships one Arrow stream to the JVM and
    plans a ``LocalTableScan``: no Python worker, exact size statistics
    for the broadcast decision. There is no fallback — a value that does
    not fit its field's type raises here, where the list form's schema
    check would have raised too.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    width = len(schema.fields)
    if any(len(r) != width for r in rows):
        raise ValueError(f"local_frame: every row needs {width} values "
                         f"({schema.simpleString()})")
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def configure(builder: SparkSession.Builder, *, shuffle_partitions: int | None = None):
    """Apply engine confs onto an existing builder (composable)."""
    for k, v in _SCALE_CONFS.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return builder


def get_session(app: str = "stark_spark", *, master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local test default: ``local[$SPARK_GRAFT_CPUS]`` with shuffle
    partitions = CPU count (small data; the driver's bench overrides
    via env). On a real cluster, master comes from the environment.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = SparkSession.builder.appName(app).master(master)
    if master.startswith("local"):
        # in local mode the driver JVM IS every executor — the 1g
        # default heap OOMs under 32 concurrent tasks. Honored only at
        # JVM launch (first getOrCreate in the process).
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Whole-stage codegen mints new generated classes per query;
        # a session that runs hundreds of distinct queries (the bench
        # harness, long notebooks) fills the JVM's default ~240 MB
        # reserved code cache, after which the JIT flushes/throttles
        # and hot generated loops intermittently run interpreted —
        # r14 measured a heavy query's first touch at 3-10× CPU
        # (113-192 s JVM CPU vs ~23 s JITted) late in a 173-query
        # session. 512 MB removes the ceiling; JVM-launch-time only,
        # so it composes with any user-supplied extraJavaOptions via
        # the env override. On a cluster, set the executor equivalent
        # in your deploy config.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS",
                           "-XX:ReservedCodeCacheSize=512m"))
        # keep managed-table data (bucketed tables) out of the repo
        builder = builder.config(
            "spark.sql.warehouse.dir", "/tmp/stark_spark_warehouse")
    builder = configure(builder, shuffle_partitions=shuffle_partitions)
    return builder.getOrCreate()
