"""SparkSession factory tuned for this engine.

Defaults follow the 100 TB design brief: AQE on (runtime re-planning +
skew-join splitting for the Zipfian user/item distributions the reference's
data has), Arrow on (every Python-side kernel is batch-vectorized), and a
shuffle-partition count that callers override per deployment.

The nanos flag exists because the driver's synthetic parquet carries
TIMESTAMP(NANOS) columns, which Spark's vectorized reader refuses by default;
we read them as raw INT64 and normalize in sources.io (DuckDB truncates
nanos→micros, and so do we, keeping the two engines bit-identical).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_SHIPPED_SESSIONS: set[int] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship ``etl_master_spark`` to the Python workers via ``addPyFile``.

    Worker processes don't inherit driver-side ``sys.path`` edits, so any
    Arrow UDF / mapInPandas closure that references this package would fail
    with ModuleNotFoundError when the driver runs from another cwd. Zipping
    the package and ``addPyFile``-ing it is the same mechanism spark-submit
    uses for ``--py-files`` on a real cluster, so this mirrors production.
    """
    key = id(spark.sparkContext)
    if key in _SHIPPED_SESSIONS:
        return
    pkg_dir = Path(__file__).resolve().parent
    zip_base = Path(tempfile.gettempdir()) / "etl_master_spark_pyfiles"
    zip_path = shutil.make_archive(str(zip_base), "zip", pkg_dir.parent, pkg_dir.name)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_SESSIONS.add(key)


MAX_DRIVER_MEM_GIB = 48


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the machine's memory, capped at ``MAX_DRIVER_MEM_GIB``: the
    heap, the JVM's off-heap and the Python workers must fit side by side
    (a fixed heap larger than the machine lets the JVM grow until the
    kernel kills it). Falls back to the cap where ``/proc/meminfo`` is
    unreadable."""
    try:
        with open(meminfo) as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEM_GIB}g"
    return f"{max(1, min(kib // 2 // 1024, MAX_DRIVER_MEM_GIB * 1024))}m"


def get_spark(
    app_name: str = "etl_master_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster, leave ``master`` unset and submit through
    spark-submit; locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # runtime re-planning: coalesce post-shuffle partitions, split skewed
        # joins — both essential once user/item popularity is power-law
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / mapInPandas boundary
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata uses TIMESTAMP(NANOS); see module docstring
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.ui.enabled", "false")
        # local-mode driver heap IS the executor heap: size it like an
        # executor (a 1000-executor cluster would get this per-executor
        # via spark-submit instead)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # one BLAS thread per Python worker: the worker pool already fills
        # every core, so nested BLAS threading only adds contention (the
        # standard per-core-slot pinning on a real cluster)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ensure_package_shipped(spark)
    return spark
