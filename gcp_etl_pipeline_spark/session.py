"""SparkSession factory with engine defaults.

Scale stance (100 TB / 1000-executor design, tested on local[N]):
  - AQE on: runtime coalescing, skew-join splitting, dynamic join
    strategy selection replace hand-tuned partition counts.
  - UTC session timezone: deterministic timestamp semantics across
    engines (required for DuckDB-oracle differential tests).
  - Arrow enabled: fast pandas interchange for the Pandas-UDF slow path.
  - shuffle.partitions is a *local* default; on a real cluster AQE
    coalesces from a high initial count, so we set the initial number
    from the environment rather than hardcoding cluster assumptions.

Reference counterpart: SparkSession setup in the curated jobs
(`jobs/curated/facts/sales_fact/dl_ct_gosales_sales_fact_01.py:21-26,106-107`)
which sets only `spark.sql.sources.partitionOverwriteMode=dynamic`.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_APP_NAME = "gcp_etl_pipeline_spark"


def scratch_dir(tag: str) -> str:
    """A fresh ``graft_<tag>_`` directory under the temp root, removed at
    interpreter exit. The one way engine and catalog code get scratch
    space (stream sources, checkpoints, ledgers, staged fixtures).
    Removal cannot happen when a query returns: the DataFrame it returns
    is a lazy read of its scratch files."""
    root = tempfile.mkdtemp(prefix=f"graft_{tag}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else half of physical memory (the rest
    is left to the Python workers and the OS)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{total // 2**21}m"


def default_shuffle_partitions() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_session(
    app_name: str = _APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Local test default: ``local[$SPARK_GRAFT_CPUS or *]``. On a cluster the
    master comes from spark-submit; everything here is master-agnostic.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = default_shuffle_partitions()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # runtime Bloom-filter pruning: selective dim filters propagate a
        # might_contain pre-filter onto the fact scan before the shuffle
        # (pinned, not left to version defaults; tests/test_bloom_filter.py)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
