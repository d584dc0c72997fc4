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


def _submitted_conf() -> dict[str, str]:
    """The settings spark-submit was given (--master, --conf, ...), when
    this driver runs under it. spark-submit starts the JVM first and hands
    Python its gateway (PYSPARK_GATEWAY_PORT), so they already sit in the
    JVM's conf, where builder.config() would override them."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "osm2world_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """The engine's session. `master=None` keeps the master spark-submit
    was given, else runs local[$SPARK_GRAFT_CPUS or 32]. The engine's
    defaults below fill only the settings spark-submit was not given;
    `shuffle_partitions` and `extra_conf` override both."""
    _ensure_package_on_worker_path()
    submitted = _submitted_conf()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = submitted.get("spark.master") or f"local[{cpus}]"
    # local[N] -> N; a real cluster wants 2-3x total cores instead.
    n = master[len("local[") : -1] if master.startswith("local[") else ""
    conf = {
        "spark.sql.shuffle.partitions": str(cpus if n in ("", "*") else int(n)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        # shuffle/spill on tmpfs when available: a slow shared disk becomes
        # a serial bottleneck for shuffle-heavy stages; a real cluster uses
        # local NVMe via spark.local.dir
        "spark.local.dir": "/dev/shm/spark-tmp" if os.path.isdir("/dev/shm") else "/tmp",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    conf = {k: v for k, v in conf.items() if k not in submitted}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    if "spark.local.dir" in conf:
        os.makedirs(conf["spark.local.dir"], exist_ok=True)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
