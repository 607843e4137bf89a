"""SparkSession factory with scale-appropriate defaults.

The reference engine hand-rolls its runtime (coordinator/worker/RPC,
/root/reference/src/mr/coordinator.go, worker.go); on Spark the whole
runtime is configuration. Everything here is chosen for correctness
at small SF *and* sanity at cluster scale:

- AQE on (runtime partition coalescing, skew-join splitting) — the
  scale story for skewed keys and mis-sized shuffles.
- shuffle partitions default to SPARK_GRAFT_CPUS (local) — on a real
  cluster AQE coalesces from a higher initial number, so we only pin
  a small value when we know we are on a laptop-sized local master.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (duckdb timestamps are UTC-naive).
- Arrow enabled: every pandas-UDF / toPandas crossing is vectorized.
- the driver JVM maps a cached class-data archive when one exists
  (cds.py): `get_spark` takes ~3.5 s instead of ~7 s.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from mapreduce_golang_spark import cds

_SHIPPED_APPS: set[str] = set()
_ARCHIVE_DIR: str | None = None


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Python functions defined in our modules (mrapps, pandas UDFs)
    cloudpickle *by reference* — executors must be able to import
    ``mapreduce_golang_spark`` or every RDD/pandas-UDF task dies with
    ModuleNotFoundError whenever the driver wasn't launched from the
    repo root. addPyFile is the same mechanism ``--py-files`` uses on
    a real cluster, so this is the deployment story at scale too.

    The archive lives in a per-process mkdtemp, removed at exit, and is
    named per applicationId, so concurrent sessions (bench + pytest,
    multiple users) never rewrite a zip another context's executors are
    fetching; keying the shipped-set on applicationId (not id(sc))
    survives id() reuse after GC.
    """
    sc = spark.sparkContext
    key = sc.applicationId
    if key in _SHIPPED_APPS:
        return
    global _ARCHIVE_DIR
    if _ARCHIVE_DIR is None:
        _ARCHIVE_DIR = tempfile.mkdtemp(prefix="mgs_pkg_")
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    archive = shutil.make_archive(
        os.path.join(_ARCHIVE_DIR, f"mapreduce_golang_spark_pkg_{key}"),
        "zip",
        root_dir=root,
        base_dir="mapreduce_golang_spark",
    )
    sc.addPyFile(archive)
    _SHIPPED_APPS.add(key)


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return f"local[{cpus}]"


def _default_shuffle_partitions() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return max(int(cpus), 1)
    return 32


def session_builder(app_name: str, master: str | None, driver_java_options: str) -> SparkSession.Builder:
    """The engine's session defaults; ``get_spark`` and the class-archive
    builder (cds.py) launch their JVMs from the same conf."""
    return (
        SparkSession.builder.appName(app_name)
        .master(master or _default_master())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(_default_shuffle_partitions()))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(tempfile.gettempdir(), "spark-graft-warehouse")
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", driver_java_options)
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
    )


def get_spark(app_name: str = "mapreduce-golang-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    If a session already exists, ``getOrCreate`` returns it and the
    configs below are no-ops — callers on a real cluster submit with
    their own master/conf and this function simply adopts it.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_package_shipped(active)
        return active

    with cds.driver_launch() as archive_options:
        spark = session_builder(app_name, master, f"-Duser.timezone=UTC {archive_options}".strip()).getOrCreate()
    ensure_package_shipped(spark)
    return spark


@atexit.register
def _on_exit() -> None:
    """Remove the shipped package's zip dir, then build the class archive
    if this process found none (cds.build_pending)."""
    if _ARCHIVE_DIR is not None:
        shutil.rmtree(_ARCHIVE_DIR, ignore_errors=True)
    cds.build_pending()
