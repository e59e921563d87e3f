"""SparkSession construction with scale-appropriate defaults.

The session is the in-process analogue of the reference's
`ChromaClient` connection (reference src/client.rs:12-35): where the
client held host/port/headers, we hold Spark config.

Defaults are chosen for the 100 TB design point but harmless locally:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (fast pandas interchange for the few Pandas-UDF operators),
and an explicit shuffle-partition count sized to the local test rig —
on a real cluster this would be set to ~2-3x total executor cores or
left to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A one-partition DataFrame of driver-side `rows` (tuples in
    `schema` field order; `schema` a StructType or a DDL string),
    planned as a JVM `LocalRelation` (`LocalTableScan`). The rows cross
    to the JVM once as one Arrow table, so no Python worker
    deserializes them, where `createDataFrame(list)` pickles them into
    a `PythonRDD` that every action re-reads through Python workers.
    One partition: a LocalTableScan alone splits into one task per row
    up to the core count, so a 5-row add would write 5 files.

    The checks of `createDataFrame(list)` hold: a NULL in a NOT NULL
    field and a value of the wrong type raise. Floats convert to FLOAT
    round-to-nearest (1e39 stores as +inf; NaN and -0.0 are kept), and
    map entries keep the order of the caller's dict."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    width = len(schema.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(f"local_frame: row of {len(r)} fields, schema has {width}")
    cols = list(zip(*rows)) if rows else [()] * width
    for c, f in zip(cols, schema.fields):
        # Arrow truncates a float into an integer column; refuse it
        if isinstance(f.dataType, T.IntegralType) and any(isinstance(v, float) for v in c):
            raise TypeError(f"local_frame: float value in integer field {f.name}")
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def driver_memory() -> str:
    """`spark.driver.memory`: SPARK_DRIVER_MEMORY when set, else 16g
    capped at half the host's physical memory, so sessions running side
    by side on a small host leave it room instead of each claiming
    16g."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2 >> 20
    return f"{min(16 << 10, half_mb)}m"


def get_spark(
    app_name: str = "chroma_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    # local[N] defaults to the CPUs this process may run on
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or int(cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Keep parquet scans well-sized: at 100 TB this bounds task count
        # and keeps per-task memory predictable. Deployment-tunable
        # (guide §6: large sequential scans on fast storage want
        # 512m-1g splits — fewer map tasks feeding every shuffle);
        # 128m stays the default so small-SF local runs keep their
        # scan parallelism.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # local[N] runs everything in the driver JVM: size the heap for
        # N concurrent tasks or GC pauses dominate small-query timings
        .config("spark.driver.memory", driver_memory())
        # every distinct plan compiles its own codegen classes; a
        # long-lived session running many queries fills the default
        # 256m JIT code cache, after which HotSpot stops compiling and
        # random queries run 5-10x slow. 1g + flushing keeps C2 alive.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        # PySpark 4 wraps every DataFrame API call to capture the
        # Python call site for error context — 3-4 extra py4j round
        # trips per call (pyspark/errors/utils.py:_with_origin). The
        # context only enriches error messages; disabling it cuts
        # driver-side plan-construction time roughly in half on
        # multi-query suites. Re-enable when debugging a failing plan.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # dims up to ~tens of MB are cheaper replicated than shuffled —
        # the conventional production bump from the conservative 10m
        # default (joins against region/nation/supplier/part and the
        # suite's side tables all stay broadcast, no sort-merge)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.locality.wait", "0s")
    )
    if master.startswith("local"):
        # single-JVM shuffles move bytes through memory/local disk —
        # lz4 framing is pure CPU overhead with no network to save
        # (measured ~10-14% on the shuffle-heavy suite rows). Cluster
        # deploys keep compression: there the network IS the cost.
        builder = (
            builder.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            .config("spark.broadcast.compress", "false")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
