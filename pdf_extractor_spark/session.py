"""SparkSession factory with the engine's standard configuration.

All entry points (tests, bench, driver contract) build sessions here so the
oracle-comparison and scaling runs share identical semantics:

- UTC session timezone (DuckDB oracle timestamps are UTC-naive)
- AQE on (runtime re-planning / skew-join splitting at scale)
- Arrow batch size bounded so a batch of binary payloads cannot blow
  executor memory (SURVEY.md §4.3.2)
- shuffle partitions sized to cores (local mode), not the 200 default
- driver heap sized to the machine's RAM (``driver_memory``)
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

__all__ = ["get_spark", "package_zip", "driver_memory", "ARROW_BATCH_ROWS"]

# Rows per Arrow batch crossing the JVM->Python boundary.  With ~4 KiB median
# payloads this is ~1 MiB/batch; oversized docs are additionally routed to
# low-fanout partitions by the pipeline (plans/pipeline.py).
ARROW_BATCH_ROWS = 256


def driver_memory(meminfo: str | None = None) -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEM``, else 40% of MemTotal
    (``meminfo`` = /proc/meminfo text) clamped to [1 GiB, 32 GiB].  In local
    mode the driver JVM holds every executor, and its RSS runs well past
    the heap (metaspace, Arrow buffers) next to the Python workers."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    if meminfo is None:
        proc = Path("/proc/meminfo")
        meminfo = proc.read_text() if proc.exists() else ""
    kb = next((int(ln.split()[1]) for ln in meminfo.splitlines()
               if ln.startswith("MemTotal:")), 0)
    return f"{min(32 * 1024, max(1024, int(kb / 1024 * 0.4)))}m"


def get_spark(
    cores: int | None = None,
    app: str = "pdf-extractor-spark",
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cores}]" if cores else "local[*]"
    n_shuffle = shuffle_partitions or (2 * cores if cores else 32)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers — the same mechanism as
    # `spark-submit --py-files pdf_extractor_spark.zip` on a real cluster
    # (north-rule packaging requirement); makes kernels importable on
    # workers regardless of the driver's cwd.
    spark.sparkContext.addPyFile(package_zip())
    return spark


def package_zip() -> str:
    """Build (once per process) a zip of this package for --py-files."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = Path(__file__).resolve().parent
        zip_path = Path(tempfile.gettempdir()) / "pdf_extractor_spark.zip"
        with zipfile.ZipFile(zip_path, "w") as zf:
            for py in sorted(pkg_dir.rglob("*.py")):
                zf.write(py, f"{pkg_dir.name}/{py.relative_to(pkg_dir)}")
        _PKG_ZIP = str(zip_path)
    return _PKG_ZIP


_PKG_ZIP: str | None = None
