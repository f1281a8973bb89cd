"""SparkSession factory tuned for this engine.

Local test mode is ``local[N]`` (single JVM), but every conf here is chosen
to also be the right default on a 1000-executor cluster:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic
  broadcast-join conversion) — at 100 TB, static plans are always wrong
  somewhere; AQE repairs them from runtime stats.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a real
  cluster AQE's coalescing makes the initial number much less critical, and
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (default 64 MB) becomes
  the effective knob.
- Session timezone pinned to UTC so timestamp semantics are deterministic and
  comparable against external oracles (DuckDB is UTC-naive).
- ANSI mode OFF: the engine's cleaning operators rely on null-on-failure
  cast/parse semantics (matching the reference's ``errors="coerce"``
  pipeline, /root/reference/dags/src/processor.py:64-66).
- Arrow on for any pandas interchange (vectorized Pandas UDFs, toPandas).
- Local masters start Python workers from ``pydaemon``, not
  ``pyspark.daemon``. Each Python round of a task begins with
  ``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
  directory of every zip archive on the worker's path (``pyspark.zip``
  and the spark-core jar, through a dozen importers). ``pydaemon``
  re-reads an archive only when it changed. On a 4-core box, a bare
  4-task RDD ``map`` job fell from 0.23 to 0.11 s and a ``mapInPandas``
  count from 0.40 to 0.21 s. The checkout goes first on the executors'
  ``PYTHONPATH``, so the daemon starts whatever the driver's cwd. A
  cluster session keeps ``pyspark.daemon``: its executors start their
  daemon before ``catalog._ship_package`` ships this package.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from mini_data_platform_spark import pydaemon

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "mini_data_platform_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a cluster
    leave it unset and let spark-submit provide it. A local master's
    Python workers start from ``pydaemon`` (see the module docstring);
    a caller's ``spark.executorEnv.PYTHONPATH`` follows the checkout.
    """
    cpus = int(DEFAULT_CPUS)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        conf.setdefault("spark.python.daemon.module", pydaemon.__name__)
        env = "spark.executorEnv.PYTHONPATH"
        conf[env] = os.pathsep.join(p for p in (root, conf.get(env)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def observed(spark: SparkSession, obs) -> dict | None:
    """The metrics of ``obs`` once an action has run its frame, else
    ``None``: unlike ``Observation.get`` it never blocks on a frame no
    action ran. Spark completes an observation from its listener bus a
    moment after the action returns, so an incomplete one first waits
    (at most 10 s) for the bus to drain. Only actions run by the
    observed frame's own session complete it."""
    done = obs._jo.future().isCompleted  # noqa: SLF001
    if not done():
        bus = spark.sparkContext._jsc.sc().listenerBus()  # noqa: SLF001
        try:
            bus.waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — a busy bus: decide on what arrived
            pass
    return obs.get if done() else None
