"""SparkSession factory with the engine's default tuning.

Local-mode testing stands in for a multi-executor cluster; every knob here
is chosen to behave identically under ``spark-submit --py-files`` on a real
cluster (SURVEY §4): AQE on (skew-join splitting + partition coalescing),
Arrow enabled for pandas-UDF exchange, bounded Arrow batch size so padded
(batch, seq, tags) tensors inside the tagger UDF stay executor-memory-safe
(SURVEY §7.4 "UDF memory").

``release_zip_finders`` runs inside Python workers: it keeps pyspark's
per-task ``importlib.invalidate_caches()`` from re-reading every zip on
the worker's import path.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    master: str | None = None,
    app_name: str = "ner_spark",
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 1024,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # first integer inside the brackets; tolerates local[N,maxFailures]
        # and non-numeric masters (yarn, spark://...) → default 32
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        n = n.split(",")[0]
        shuffle_partitions = max(8, int(n)) if n.isdigit() else 32

    # python workers must import ner_spark; on a real cluster this is what
    # --py-files does, locally PYTHONPATH covers the forked workers.
    pypath = os.environ.get("PYTHONPATH", "")
    if REPO_ROOT not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            REPO_ROOT + (os.pathsep + pypath if pypath else "")
        )
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)

    # When getOrCreate returns an EXISTING session, runtime SQL confs
    # (shuffle partitions, Arrow batch size) ARE re-applied by Spark, but
    # JVM-launch-time confs (spark.driver.memory, master) are silently
    # ignored — they were fixed when the JVM started (also true under
    # spark-submit, where the driver is already up before this runs).
    # getActiveSession is thread-local, so this detection is best-effort.
    existing = SparkSession.getActiveSession()
    spark = b.getOrCreate()
    if existing is not None:
        import warnings

        warnings.warn(
            "get_spark() reused an existing SparkSession: runtime SQL confs "
            "were re-applied, but JVM-launch confs (driver memory, master) "
            "keep the original session's values.",
            stacklevel=2,
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``.

    Before each task the pyspark worker calls ``importlib.invalidate_caches()``;
    on CPython 3.10/3.11 each cached zipimporter then re-reads its whole
    archive directory (pyspark.zip: 16 finders, about 0.3 s of every
    tagging task on a 4-core VM). A later import from the zip builds a
    fresh finder from zipimport's module-level directory cache, without
    a re-read. Spark's own archives and ``--py-files`` zips do not change
    during an application, so all this gives up is noticing a zip
    rewritten on disk mid-run.
    """
    import zipimport

    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
