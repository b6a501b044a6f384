"""Fixed-bin histograms (SURVEY B9/B18 building blocks).

Bucketing uses explicit floor arithmetic rather than ``width_bucket``
so the *identical* formula is expressible in the DuckDB oracle SQL:

    bucket(x) = 0                          if x < lo
              = nbins + 1                  if x >= hi
              = floor((x - lo)/(hi - lo) * nbins) + 1 otherwise

(the same clamping semantics as Spark's/Postgres' width_bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bucket_col(col: Column, lo: float, hi: float, nbins: int) -> Column:
    scaled = F.floor((col - F.lit(lo)) / F.lit(hi - lo) * F.lit(nbins)) + F.lit(1)
    return (
        F.when(col.isNull(), F.lit(None))
        .when(col < lo, F.lit(0))
        .when(col >= hi, F.lit(nbins + 1))
        .otherwise(scaled)
        .cast("int")
    )


def histogram(df: DataFrame, column: str, lo: float, hi: float, nbins: int) -> DataFrame:
    """→ (bucket, cnt). One shuffle (partial+final hash agg)."""
    return (
        df.select(bucket_col(F.col(column), lo, hi, nbins).alias("bucket"))
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
