"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def get_spark(
    app_name: str = "cianparser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session tuned for this engine.

    On a real cluster, drop ``master`` and submit via
    ``spark-submit --py-files cianparser_spark.zip``; every conf here
    is cluster-safe.  AQE stays on so skewed politeness/dedup shuffles
    re-plan at runtime; Arrow is on because all parse stages are
    Arrow-batched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or (int(cpus) if str(cpus).isdigit() else 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # smaller Arrow batches: the fetch+parse stage fans one frontier
        # row out to ~28 wide card rows, so 10k-row default input batches
        # become 280k-row output allocations — 2k keeps peak memory flat
        # and pipelines Python→JVM transfer
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # lz4 beats snappy on write CPU for the wide stage spool (the
        # wave's dominant write): measured 11.7 s vs 16.8 s for the
        # same 837k-row spool at local[8]; read side is comparably fast
        .config("spark.sql.parquet.compression.codec", "lz4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # shuffle/spill scratch on tmpfs — the single-box analog of
    # per-executor local SSDs (each real executor brings its own spill
    # device; one shared virtio disk would serialize them).  Guarded:
    # SPARK_GRAFT_SCRATCH overrides explicitly; otherwise tmpfs is used
    # only when /dev/shm is writable AND has >= 8 GiB free (Docker's
    # default 64 MB /dev/shm would otherwise fail shuffle spills that
    # plain disk handles fine, and crashed runs would pin RAM).
    # The chosen root is created here, not left to Spark: with
    # SPARK_LOCAL_DIRS set Spark ignores spark.local.dir and never
    # creates it, yet driver-side spools (ops/sampling.py) still
    # mkdtemp under the conf value.
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH")
    if not scratch and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            free_bytes = st.f_bavail * st.f_frsize
        except OSError:
            free_bytes = 0
        if free_bytes >= 8 << 30:
            scratch = "/dev/shm/spark-scratch"
    if scratch:
        for d in scratch.split(","):
            os.makedirs(d.strip(), exist_ok=True)
        builder = builder.config("spark.local.dir", scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_table(rows, schema: T.StructType):
    """Driver rows (tuples in schema order, or dicts by field name) as
    a ``pyarrow.Table`` typed by the Spark schema's own Arrow mapping."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)
    rows = list(rows)
    if rows and isinstance(rows[0], dict):
        cols = [[r.get(n) for r in rows] for n in pa_schema.names]
    else:
        cols = list(zip(*rows)) or [()] * len(pa_schema)
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, pa_schema)],
        schema=pa_schema)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """The one way the engine turns driver-held rows into a DataFrame.

    ``spark.createDataFrame(<python list>)`` plans as a Python RDD
    scan, so every action over it launches Python-worker tasks (about
    0.2 slot-seconds each on a 4-core box, even for 3 rows).  An Arrow
    table plans as a ``LocalTableScan``: the rows travel with the plan
    and no Python task runs.  ``schema`` is a StructType or a DDL
    string."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    return spark.createDataFrame(arrow_table(rows, schema), schema)
