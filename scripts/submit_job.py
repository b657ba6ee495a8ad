"""spark-submit entry point (north rule: `spark-submit --py-files`).

Usage:
    spark-submit --master 'local[8]' \
        --py-files "$(python -c 'import gdal_drivers_spark as g; print(g.package_zip())')" \
        scripts/submit_job.py [sf_dir]

Runs the flagship pipeline (synthesize → decode → assign → boundary
join → region rollup) and prints one JSON line with the row count —
the same entry() the driver smoke-checks, but launched through
spark-submit so the --py-files shipping path is what executors use.
"""

import json
import os
import sys

from pyspark.sql import SparkSession

spark = SparkSession.builder.appName("gdal_drivers_spark_submit").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

# the package arrives via --py-files; __spark_entry__ rides alongside
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod  # noqa: E402

rows = entry_mod.entry(spark).collect()
print(json.dumps({"rows": len(rows), "regions": sorted(r["region"] for r in rows)}))
spark.stop()
