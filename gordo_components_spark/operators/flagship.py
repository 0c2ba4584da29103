"""Flagship end-to-end query (SURVEY §7 step 1).

The gordo essence in one SQL-expressible plan over ``events`` (the
sensor-stream stand-in: user_id ≈ machine, value ≈ reading):

  resample to 10-min buckets (O18, ``dataset/datasets.py`` resample)
  → per-machine rolling mean (O25 smoothing)
  → |v − mean| anomaly score (O44, ``model/anomaly/diff.py``)
  → 99th-percentile threshold (O21, ``DiffBasedAnomalyDetector.cross_validate``)
  → emit buckets whose score exceeds the machine's threshold.

Scale posture: one shuffle for the resample groupBy, one for the
per-user window (both partition by user_id — AQE coalesces), threshold
side of the final join is tiny (one row per machine) → broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from gordo_components_spark.operators.relational import _fshift, _fshift_col
from gordo_components_spark.registry import register
from gordo_components_spark.sources.tables import load_table

_ORACLE = f"""
WITH b AS (
  SELECT user_id,
         time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS bucket,
         round(avg(value), 9) AS v
  FROM events
  GROUP BY 1, 2
), s AS (
  SELECT user_id, bucket, v,
         round(abs(v - avg(v) OVER w), 9) AS score
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
), t AS (
  SELECT user_id, bucket, v, score,
         round(quantile_cont(score, 0.99) OVER (PARTITION BY user_id), 9) AS threshold
  FROM s
)
SELECT user_id, bucket,
       {_fshift("v", "v")},
       {_fshift("score", "score")},
       {_fshift("threshold", "threshold")}
FROM t
WHERE score > threshold
"""


@register("flagship_anomaly", oracle=_ORACLE, tags=("flagship", "bench"))
def flagship_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample → rolling-mean anomaly score → per-machine 99pct threshold."""
    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.groupBy("user_id", F.window("ts", "10 minutes").alias("w"))
        .agg(F.round(F.avg("value"), 9).alias("v"))
        .select("user_id", F.col("w.start").alias("bucket"), "v")
    )
    w = Window.partitionBy("user_id").orderBy("bucket").rowsBetween(-11, 0)
    scored = buckets.withColumn(
        "score", F.round(F.abs(F.col("v") - F.avg("v").over(w)), 9)
    )
    # threshold as an unbounded window aggregate over the SAME user_id
    # partitioning the rolling window just established: one events scan,
    # no self-join, zero additional shuffles.
    thresholded = scored.withColumn(
        "threshold",
        F.round(
            F.expr("percentile(score, 0.99)").over(Window.partitionBy("user_id")), 9
        ),
    )
    return thresholded.where(F.col("score") > F.col("threshold")).select(
        "user_id",
        "bucket",
        _fshift_col(F.col("v")).alias("v"),
        _fshift_col(F.col("score")).alias("score"),
        _fshift_col(F.col("threshold")).alias("threshold"),
    )
