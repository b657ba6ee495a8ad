"""gdal_drivers_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) with the query and data-processing
capabilities of melowntech/gdal-drivers, re-expressed as distributed
Spark DataFrame operators:

- quadkey/Z-order cell index (the reference's quadtree + z-x-y tile
  addressing, ``mask.cpp`` / ``detail/mbtiles.cpp``) — ``core.qcell``
- tile assignment + bbox/PIP spatial joins (the Blender ``Locator``
  loop, ``blender.cpp:570-600``) — ``operators.assign`` /
  ``operators.spatial_join``
- kNN via cell-ring expansion — ``operators.knn``
- weighted-average feathered blend (``blender.cpp:559-655``) —
  ``operators.blend``
- quadtree rasterize / vectorize (``mask.cpp:219-264``) —
  ``operators.rasterize``
- overview pyramid rollup (``mask.cpp:170-174``) — ``operators.pyramid``
- MVT-style vector feature decode (``mvt.cpp``) — ``operators.mvt``
- keyed z-x-y tile lookup with TMS flip (``detail/mbtiles.cpp``) —
  ``operators.lookup``
- training-data pipeline ops (dedup / similarity / text / multimodal)
  over the documents + embeddings tables.

Pixel work is numpy over Arrow batches: per-row maps are pandas UDFs,
and every per-tile kernel runs once per group through one grouped
Arrow runner (``operators._groups.run_grouped``); everything relational
stays JVM-side for Catalyst/Tungsten.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

__version__ = "0.1.0"

# Tile size matches the reference block size (mask.cpp:131, blender.cpp:536-537).
TILE = 256


def package_zip() -> str:
    """Zip this package for shipping to executors (the ``spark-submit
    --py-files`` artifact). Rebuilt when any source file is newer."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join("/tmp", f"gdal_drivers_spark-{__version__}.zip")
    srcs = []
    for root, _, files in os.walk(pkg_dir):
        srcs += [os.path.join(root, f) for f in files if f.endswith(".py")]
    if not os.path.exists(out) or os.path.getmtime(out) < max(map(os.path.getmtime, srcs)):
        # pid-unique staging file: concurrent sessions (pytest + bench +
        # a checker run on one host) each rebuild on a source change,
        # and a SHARED .tmp lets one builder truncate another's
        # half-written zip before the atomic rename — executors then
        # ModuleNotFoundError on a corrupt archive
        tmp = f"{out}.{os.getpid()}.tmp"
        try:
            with zipfile.ZipFile(tmp, "w") as z:
                for s in srcs:
                    z.write(
                        s,
                        os.path.join(
                            "gdal_drivers_spark", os.path.relpath(s, pkg_dir)
                        ),
                    )
            os.replace(tmp, out)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return out


def get_spark(
    app: str = "gdal_drivers_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Session tuned for the engine: AQE on, Arrow on, shuffle partitions
    sized to parallelism (not the 200 default, which over-partitions
    local mode and under-partitions a 1000-executor cluster — on a real
    cluster set ``spark.sql.shuffle.partitions`` ≈ 2-3× total cores).

    Defaults come from the machine: ``local[n]`` over the CPUs this
    process may run on, and a driver heap of half the physical RAM —
    in local mode that heap serves the executors too, and the Python
    workers and page cache need the other half. ``SPARK_GRAFT_CPUS``
    and ``SPARK_GRAFT_DRIVER_MEM`` override them."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{ram // 2 >> 20}m"
    sp = shuffle_partitions or max(cores, 8)
    return _ship(
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _ship(spark: SparkSession) -> SparkSession:
    """Make this package importable on executor python workers —
    equivalent of ``spark-submit --py-files`` for an existing session."""
    spark.sparkContext.addPyFile(package_zip())
    return spark
