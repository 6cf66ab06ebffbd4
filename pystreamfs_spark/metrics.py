"""Presentation-layer quantities — the reference's plot_stats data,
as DataFrames instead of a matplotlib figure.

The reference assembles plot_data from the stats dict with unit conversions
(ms, kB, %, accuracy p25/p75, /root/reference/pystreamfs/pystreamfs.py:
103-161) and renders 5 panels. Plotting is out of engine scope (SURVEY.md
§2.1 #10); these helpers expose the identical quantities so any plotting
layer can consume them:

- :func:`plot_series` — one row per (conv_id, window_id): kernel time in ms,
  worker memory in kB, accuracy in %, FSCR, the selected-feature set.
- :func:`run_summary` — the averages + accuracy quartiles the reference
  overlays (time_avg·1000, memory_avg/1000, acc p25/p75·100, fscr_avg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pystreamfs_spark.operators.stability import fscr as _fscr


def plot_series(weights: DataFrame, num_features: int = 5) -> DataFrame:
    w = _fscr(weights, num_features)
    return w.select(
        "conv_id",
        "window_id",
        (F.col("elapsed_sec") * 1000.0).alias("time_ms"),
        (F.col("mem_bytes") / 1000.0).alias("mem_kb"),
        (F.col("acc") * 100.0).alias("acc_pct"),
        F.col("fscr"),
        F.col("selected"),
    )


def run_summary(weights: DataFrame, num_features: int = 5) -> DataFrame:
    w = _fscr(weights, num_features)
    return w.agg(
        (F.avg("elapsed_sec") * 1000.0).alias("time_avg_ms"),
        (F.avg("mem_bytes") / 1000.0).alias("mem_avg_kb"),
        (F.avg("acc") * 100.0).alias("acc_avg_pct"),
        (F.expr("percentile(acc, 0.25)") * 100.0).alias("acc_q1_pct"),
        (F.expr("percentile(acc, 0.75)") * 100.0).alias("acc_q3_pct"),
        F.avg("fscr").alias("fscr_avg"),
        F.count(F.lit(1)).alias("n_windows"),
    )
