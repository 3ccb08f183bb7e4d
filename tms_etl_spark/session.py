"""SparkSession construction tuned for the engine.

Defaults are chosen for correctness-vs-oracle and for scale posture:

- AQE on (runtime coalescing + skew-join handling) — at 100 TB the
  static shuffle-partition count is always wrong for some stage; AQE
  re-plans from runtime statistics.
- ``spark.sql.shuffle.partitions`` sized to the local core count for
  tests (the guide's "~cores for local" rule); on a real cluster this
  is a deploy-time knob and AQE coalesces the excess.
- Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (toPandas, pandas UDFs).
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  PySpark 4.1 wraps every ``functions.*`` / ``Column`` call so that it
  records the Python call site in the JVM: about six extra py4j round
  trips per call (active session, conf read, origin set and clear).
  On a 10-loom TMS re-import that built its 71-column plans column
  by column, that was ~8.4k of ~13.5k gateway commands. Errors are
  unchanged apart from the Python frame: an unresolved column still
  raises ``AnalysisException`` naming it. For debugging, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to bring the call sites back.
"""

from __future__ import annotations

import os

from pyspark.errors import utils as pyspark_errors_utils
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tms_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``) so the bench driver can pin parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # PySpark reads the debugging flag once per process and caches it;
    # drop the cache so this session's value is the one in force
    pyspark_errors_utils._enable_debugging_cache = None
    spark.sparkContext.setLogLevel("WARN")
    return spark
