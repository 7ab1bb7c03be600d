"""SparkSession factory tuned for the quality-filter engine.

Single place to set the configs that matter at 100 TB scale:
AQE (runtime shuffle coalescing + skew-join splitting), Arrow for the
few vectorized UDFs we have, and a shuffle-partition default sized for
the sandbox (overridable; on a real cluster this is ~2-3x total cores).
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def get_spark(
    app_name: str = "scripts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    On a real cluster, pass ``master=None`` after setting the usual
    spark-submit flags; all configs below remain valid.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = max(2 * int(cpus), 8) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting; essential for Zipfian url/domain keys (SURVEY.md §4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for the pandas UDFs (model scoring); batch size
        # amortizes per-batch overhead.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: dimension tables (stopword maps, bigram
        # tables, manifest lists) are all << 64MB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Literal rows as a LocalTableScan-backed frame.

    ``spark.createDataFrame(list, schema)`` plans as Scan ExistingRDD —
    a pickled Python RDD in defaultParallelism slices, and every action
    pays a Python-worker round trip PER SLICE (measured: a 4-row frame
    collect()s in ~1.9s; the containment_pages cartesian over two such
    frames spent ~20s of its 20.9s there — r7 sweep). Routing the same
    rows through pandas + Arrow plans a pure-JVM LocalTableScan:
    identical rows and types (the DDL schema binds positionally),
    zero Python at execution time. dtype=object keeps None → NULL in
    every column, including numeric ones. An empty pandas frame would
    fall back to the Python RDD, so no rows is one all-NULL row under
    ``limit(0)``, which the optimizer folds to an empty LocalTableScan."""
    import pandas as pd
    from pyspark.sql.types import StructType

    names = StructType.fromDDL(schema).names
    pdf = pd.DataFrame(rows or [(None,) * len(names)], columns=names, dtype=object)
    df = spark.createDataFrame(pdf, schema)
    return df if rows else df.limit(0)


def drop_zip_finders() -> None:
    """Forget this Python worker's cached ``zipimporter`` finders.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark/worker_util.setup_spark_files``). On
    Python 3.11 each cached zipimporter answers by re-reading its whole
    archive directory: 16 finders over pyspark.zip, the py4j zip and
    spark-core's jar, about 80 ms per task on a 4-vCPU host.
    ``sys.path_importer_cache`` is only a cache: an import that needs
    one of these paths again builds a fresh finder from zipimport's own
    directory cache, without reading the archive. So a worker that
    calls this first thing in a task skips the re-read in every later
    task it runs (workers are reused), until an import recreates them.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


# Objects that live in one Spark application — memoized Column trees,
# model broadcasts, literal model tables — keyed by applicationId, then
# by the caller's key. Building a Column is a py4j round trip per node,
# and the engine rebuilds the same trees for every batch job and stream
# trigger, so they are built once per application instead. Keyed by
# applicationId, not id(sc): CPython can recycle a stopped context's
# address for a new one and hand back a dead handle. At most one live
# context per process, so a new application id drops the whole memo.
_PER_APP: dict[str, dict[Hashable, object]] = {}


def per_app(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """``build()``, memoized per Spark application and ``key``."""
    app = spark.sparkContext.applicationId
    memo = _PER_APP.get(app)
    if memo is None:
        _PER_APP.clear()
        memo = _PER_APP.setdefault(app, {})
    value = memo.get(key)
    if value is None:
        # two threads may both build; either result is valid
        value = memo[key] = build()
    return value  # type: ignore[return-value]
