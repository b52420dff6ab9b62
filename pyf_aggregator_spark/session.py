"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the configs are chosen so the same
job scales to a multi-executor cluster: AQE on (runtime coalescing +
skew-join handling), Arrow enabled for every pandas-UDF exchange, and
shuffle partitions sized to cores locally (cluster deployments override
via spark-submit --conf).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import weakref
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


# the SparkContexts this process has shipped the package zip to
_SHIPPED: weakref.WeakSet = weakref.WeakSet()
# the zip this process has built (its path carries the pid)
_BUILT: set[str] = set()


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):  # a caller may have removed it
        os.remove(path)


def ensure_py_files(spark: SparkSession) -> None:
    """Ship this package to Python workers (the local analog of
    ``spark-submit --py-files``). Required whenever an applyInPandas /
    mapInPandas kernel references package modules: workers unpickle the
    kernel by module reference and must be able to import it regardless
    of their working directory.

    The zip is added once per SparkContext: every ``addPyFile`` appends
    to ``sc._python_includes`` (pickled into every UDF) and to
    ``sys.path``, so a per-call add grew both with uptime."""
    sc = spark.sparkContext
    if sc in _SHIPPED:
        return
    zip_path = os.path.join(
        "/tmp", f"pyf_aggregator_spark_pyfiles_{os.getpid()}.zip"
    )
    # built the first time this process ships it, over any file already
    # at the path (an earlier process with the same pid may have left
    # its own code there), and removed at interpreter exit, not sooner:
    # local executors fetch the file by its path on their first task
    if zip_path not in _BUILT:
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(_PKG_DIR):
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "pyf_aggregator_spark", os.path.relpath(full, _PKG_DIR)
                    )
                    zf.write(full, rel)
        os.replace(tmp, zip_path)
        atexit.register(_remove, zip_path)
        _BUILT.add(zip_path)
    sc.addPyFile(zip_path)
    _SHIPPED.add(sc)


def get_spark(
    app_name: str = "pyf-aggregator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count; cluster masters → default 2×cores
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # shuffle/spill codec stays lz4 (the default), decided by
        # measurement, not by default: zstd won the narrow-row batch
        # shuffle (~8% on a 52M-row workload, interleaved A/B) but COST
        # ~45% on every WAND phase — the kernel input shuffle ships
        # varbyte posting blocks, high-entropy binary where zstd is pure
        # CPU overhead — netting the full bench 10% slower. Revisit per
        # deployment if the workload mix is batch-dominated
        # (spark.io.compression.codec via extra_conf/submit).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] runs every task inside the driver JVM: at 32 cores the
        # concurrent task buffers + Arrow JNI critical sections left 12g
        # marginal (observed GCLocker allocation-retry failures under a
        # full bench). 16g restores headroom; SPARK_DRIVER_MEMORY still
        # overrides for smaller hosts, and cluster deployments size
        # executors via spark-submit as before.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
