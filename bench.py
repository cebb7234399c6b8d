"""Host-speed calibration job for the benchmark.

``perfbench/run.py`` imports :func:`_micro_spark_calibration` and records
its reading next to each timed operation, so a slow host shows up as a
slow calibration rather than as a slow program.
"""

from __future__ import annotations

import time


def _micro_spark_calibration(spark) -> float:
    """Seconds for a fixed ~0.2 s range → hash-aggregate → shuffle → noop
    job (2.5M rows, 997 groups)."""
    from pyspark.sql import functions as SF

    t0 = time.time()
    (
        spark.range(2_500_000)
        .select((SF.col("id") % 997).alias("k"), "id")
        .groupBy("k")
        .agg(SF.sum("id").alias("s"), SF.count("*").alias("n"))
        .write.format("noop").mode("overwrite").save()
    )
    return round(time.time() - t0, 3)
