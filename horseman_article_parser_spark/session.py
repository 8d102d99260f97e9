"""SparkSession factory with scale-oriented defaults.

The defaults mirror what we would ship in spark-defaults.conf on a
1000-executor cluster: AQE on (runtime re-plan + skew-join splitting),
Arrow on, and bounded Arrow batch sizes so large `bytes` (image) rows
never blow up a single Arrow record batch. Every Python computation in
this engine crosses the JVM boundary as Arrow batches, never pickled
rows (BASELINE.json input_hint): per-row kernels through
`F.udf(..., useArrow=True)`, batch kernels through mapInPandas.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "horseman-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    falling back to ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- declarative-plan hygiene: let Catalyst/AQE do its job ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # local-test width; a cluster wants ~2-3x total cores (or AQE
        # coalescing, enabled above) and sets it through extra_conf
        .config("spark.sql.shuffle.partitions", "32")
        # --- Arrow for driver-side pandas conversion too ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # image `bytes` rows can be ~100KB-1MB; cap records per Arrow batch
        # so a batch stays well under executor memory (SURVEY §7.3).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # --- parquet scan sizing ---
        # 16 MB so multi-row-group test files (~20 MB row groups) scan
        # with one task per row group instead of one task for the whole
        # file — a row group is the minimum split unit, so a 128 MB
        # split swallows a 126 MB/6-row-group file whole and serializes
        # the scan (guide §6). Deployments with 128 MB-1 GB row groups
        # should pass 128 MB+ through extra_conf (larger splits cut
        # task-scheduling overhead and the map-task count feeding
        # shuffles, guide §2.2).
        .config("spark.sql.files.maxPartitionBytes", "16777216")
        # deterministic session timezone for timestamp parity with DuckDB
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


@functools.cache
def _zip_dir() -> str:
    """This process's private dir for package zips, removed at exit."""
    d = tempfile.mkdtemp(prefix="hap-pyfiles-")
    atexit.register(shutil.rmtree, d, True)
    return d


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the local-mode
    equivalent of `spark-submit --py-files pkg.zip`, north rule). Without
    it, pandas-UDF closures referencing package modules fail to unpickle
    on workers whenever the driver's CWD isn't the repo root.

    Once per SparkContext: a context that already lists a package zip
    among its Python includes returns at once, so per-query callers
    (`__spark_entry__._prep`) neither re-walk the tree nor re-add the
    file (each addPyFile also grows this process's sys.path)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    sc = spark.sparkContext
    if any(n.startswith(pkg_name + "-") and n.endswith(".zip")
           for n in sc._python_includes):
        return
    sources: list[tuple[str, str]] = []
    newest = 0.0
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in files:
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                sources.append((full, rel))
                newest = max(newest, os.path.getmtime(full))
    # name = newest source mtime across the WHOLE tree (the package
    # dir's own mtime misses edits inside subpackages), so a new
    # context after an edit ships the edited tree
    zip_path = os.path.join(_zip_dir(), f"{pkg_name}-{newest:.0f}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in sorted(sources):
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
