"""SparkSession factory with the engine's scale-oriented defaults.

Defaults chosen for the 100 TB design point, applied identically on
local[N] test runs:

- AQE on (runtime coalesce + skew-join split for dense urban cells)
- shuffle partitions sized to cores locally; on a real cluster this is
  set to 2-3x total executor cores via spark-submit --conf
- Arrow enabled for pandas UDF exchange (all geometry kernels are
  Arrow-batched numpy)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ensure_package_on_worker_path() -> None:
    """Local-mode Python workers are forked from the JVM and resolve imports
    via PYTHONPATH, not the driver's sys.path. Put the package's parent dir
    there so Arrow-batched UDFs can import the kernels. On a real cluster
    this is handled by `spark-submit --py-files osm2world_spark.zip`."""
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if pkg_parent not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join([pkg_parent] + [p for p in parts if p])


def _submitted_master() -> str | None:
    """The master spark-submit was given, when this driver runs under it.
    spark-submit starts the JVM first and hands Python its gateway
    (PYSPARK_GATEWAY_PORT), so the master already sits in the JVM's conf,
    where builder.master() would override it."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def get_spark(
    app_name: str = "osm2world_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session. `master=None` keeps the master spark-submit
    was given, else runs local[$SPARK_GRAFT_CPUS or 32]."""
    _ensure_package_on_worker_path()
    # shuffle/spill on tmpfs when available: a slow shared disk becomes a
    # serial bottleneck for shuffle-heavy stages; a real cluster uses
    # local NVMe via spark.local.dir
    local_dir = (extra_conf or {}).get("spark.local.dir") or (
        "/dev/shm/spark-tmp" if os.path.isdir("/dev/shm") else "/tmp"
    )
    os.makedirs(local_dir, exist_ok=True)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = _submitted_master() or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster wants 2-3x total cores instead.
        n = master[len("local[") : -1] if master.startswith("local[") else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.local.dir", local_dir)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
