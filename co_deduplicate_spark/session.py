"""SparkSession factory tuned for the dedup workload.

Local-mode defaults mirror what we would set cluster-side: AQE on (runtime
skew-join splitting for hot LSH bands), shuffle partitions sized to cores
(not the 200 default), Arrow enabled for the pandas-UDF signature kernels,
UTC session timezone so results hash-compare against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame over a few driver-side ``rows`` (DDL ``schema``) as a
    ``LocalRelation`` that the JVM evaluates in-process.

    ``spark.createDataFrame(rows, schema)`` on a Python list builds a
    Python-RDD scan instead: every evaluation of it runs one Python task
    per default-parallelism slice (about 0.35 s on a 4-core host, and a
    per-record plan evaluates its input many times). An Arrow table under
    ``spark.sql.execution.arrow.localRelationThreshold`` becomes a
    ``LocalRelation``, which costs no Python worker and no job of its own.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, r)) for r in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)


def build_session(
    app_name: str = "co_deduplicate_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    ui: bool = False,
) -> SparkSession:
    """Build a local SparkSession. ``cores=None`` → ``local[*]``.

    On a real cluster the same configs apply (minus master/driver-memory,
    which spark-submit owns); see ``plans/pipeline.py`` for the
    cluster-scale partitioning strategy.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores and cores > 0 else "local[*]"
    n_shuffle = shuffle_partitions or (cores if cores and cores > 0 else (os.cpu_count() or 8))

    # spark.driver.memory only takes effect BEFORE the JVM gateway launches.
    # When build_session is the first Spark touch in a plain Python process,
    # inject it via PYSPARK_SUBMIT_ARGS (which launch_gateway reads); if a
    # JVM already exists (spark-submit or a prior session), the submit args
    # own the heap and this is a no-op.
    from pyspark import SparkContext

    if SparkContext._gateway is None and "PYSPARK_SUBMIT_ARGS" not in os.environ:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-memory {driver_memory} pyspark-shell"
        )

    # Shuffle/checkpoint scratch on tmpfs when available: local-mode "disk"
    # IO otherwise lands on the root device, and concurrent writeback from
    # many executor threads stalls tasks (measured: a 1 s parquet write
    # ballooning to 25 s under 32-thread writeback pressure).
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.driver.extraJavaOptions", "-Dio.netty.tryReflectionSetAccessible=true")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
