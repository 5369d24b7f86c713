"""Deployment and materialization helpers.

``ship_package`` is the programmatic equivalent of
``spark-submit --py-files fast_pdf_parser_spark.zip`` (the north-rule run
mode): it zips this package (code + the vocab data file) and registers the
archive with the SparkContext so every executor's Python worker can import
it, regardless of the driver's cwd/sys.path.

``materialize`` and ``checkpoint`` are the two ways an intermediate
relation is computed once and reused: persisted with lineage and freed at
the query boundary, or lineage-cut for iterative loops.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_SHIPPED: set[int] = set()


def package_root() -> str:
    return os.path.dirname(os.path.abspath(__file__))


def build_package_zip(dest_dir: str | None = None) -> str:
    """Zip the package importably (fast_pdf_parser_spark/** at archive root).

    Written to a unique temp name then atomically renamed into place, so
    concurrent driver processes (multiple local JVMs, parallel test runs)
    never observe a half-written archive — each writer produces a complete
    zip and os.replace is atomic within the same filesystem.
    """
    root = package_root()
    parent = os.path.dirname(root)
    dest_dir = dest_dir or tempfile.gettempdir()
    zip_path = os.path.join(dest_dir, "fast_pdf_parser_spark.zip")
    fd, tmp_path = tempfile.mkstemp(suffix=".zip", dir=dest_dir)
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, dirnames, filenames in os.walk(root):
                dirnames[:] = [d for d in dirnames if d != "__pycache__"]
                for name in filenames:
                    if name.endswith(".pyc"):
                        continue
                    full = os.path.join(dirpath, name)
                    zf.write(full, os.path.relpath(full, parent))
        os.replace(tmp_path, zip_path)
    finally:
        if os.path.exists(tmp_path):
            os.unlink(tmp_path)
    return zip_path


def ship_package(spark) -> None:
    """Make this package importable on all executors (idempotent per context)."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    sc.addPyFile(build_package_zip())
    _SHIPPED.add(key)


def materialize(df):
    """Persist ``df`` (memory-and-disk) and compute it once, now.

    Lineage is kept, so a lost or released block recomputes from the
    inputs — ``df`` must be deterministic (no rand/uuid/monotonic ids).
    Freed by ``spark.catalog.clearCache()``.

    What is cached is a leaf over ``df``'s RDD, built the way
    ``createDataFrame(RDD[Row])`` builds its own minus the Row round trip
    (``internalCreateDataFrame``, a JVM internal pinned by
    tests/test_materialize.py). Spark does not match a cached plan that
    contains a ``WITH`` once it is read inside another ``WITH`` statement,
    so caching ``df``'s own plan would be bypassed there (and can fail in
    ``InlineCTE``). The level is Scala's MEMORY_AND_DISK (PySpark's
    constant of that name is the serialized variant, which re-deserializes
    every cached batch on each scan)."""
    spark = df.sparkSession
    leaf = DataFrame(spark._jsparkSession.internalCreateDataFrame(
        df._jdf.queryExecution().toRdd(), df._jdf.schema(), False), spark)
    leaf = leaf.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    leaf.count()
    return leaf


def checkpoint(df):
    """localCheckpoint + a DIRECT handle to the persisted JVM RDD.

    DataFrame.unpersist() is a silent no-op for localCheckpoint blocks
    (they are RDD-level persisted, not cache-manager plans), and diffing
    persistent-RDD map snapshots is racy whenever another thread of the
    session runs Spark jobs: its persist landing between two snapshots
    would be misattributed and wrongly freed. The checkpointed Dataset's analyzed plan IS a
    LogicalRDD wrapping the persisted RDD, so the handle is read straight
    off it; callers release the blocks with ``handle.unpersist(False)``.

    The read goes through private JVM internals (``_jdf`` + the analyzed
    plan's ``rdd()``); its liveness is pinned by tests/test_clusters.py,
    so a Spark upgrade that changes the plan shape shows up as a red test,
    not as a leak."""
    ckpt = df.localCheckpoint(eager=True)
    return ckpt, ckpt._jdf.queryExecution().analyzed().rdd()
