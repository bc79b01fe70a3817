"""SparkSession construction conventions for the engine.

One place that encodes the scale posture (SURVEY.md §4.4):

- **AQE on** — runtime coalescing of shuffle partitions and skew-join
  splitting; at 100 TB the static partition count is always wrong somewhere.
- **UTC session timezone** — timestamps compare bit-identically against the
  DuckDB oracle and across clusters.
- **Arrow on** — every Python boundary (pandas UDF, toPandas) is Arrow-batched.
- **shuffle partitions** default to cores on local mode; on a real cluster this
  is overridden to ~2-3× total executor cores (AQE coalesces down).

Driver-built frames go through ``local_frame``, never a list-built
``createDataFrame``.  A list-built frame plans as ``Scan ExistingRDD``
over pickled rows, so EVERY scan of it re-runs ``defaultParallelism``
Python-worker tasks just to unpickle the driver's own rows; the Arrow
table ``local_frame`` hands over plans as a ``LocalTableScan`` the JVM
answers without Python, on any session (Arrow conf on or off — a plain
``SparkSession`` built without the confs below included).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "openai-vector-search-demo-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's conventions applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and bench share
    one code path; on a cluster the caller simply passes ``master=None`` with a
    pre-configured environment and only the session-level confs below apply.

    AQE is always on — it is the documented 100 TB skew/coalesce lever,
    and a real-module A/B showed no net win from disabling it even on
    KB-scale test fixtures (UDF/setup cost dominates there).  Execution
    guarantees never depend on it: e.g. the E3 once-per-candidate pin
    rests on an explicit ``localCheckpoint`` boundary
    (``plans/pipeline.py``), not on AQE's exchange materialization.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # driver-side literals (query vectors, tiny lookup frames) don't need
        # one partition per core
        .config("spark.sql.leafNodeDefaultParallelism", "4")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: StructType | str
                ) -> DataFrame:
    """DataFrame over driver-side ``rows`` (tuples or Rows, positional)
    typed by ``schema`` (a ``StructType`` or DDL string) — the same rows
    and schema ``spark.createDataFrame(rows, schema)`` gives, planned as
    a Python-free ``LocalTableScan`` (module docstring)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows, strict=True)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=t)
         for c, t in zip(cols, arrow_schema.types, strict=True)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
