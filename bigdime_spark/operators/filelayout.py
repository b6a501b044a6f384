"""Physical file-layout profile: files-per-partition, file sizes, and
the SMALL-FILES detector (SURVEY C52).

Zone-map clustering (operators/layout.py) validates the LOGICAL
layout — value ranges per partition. This module validates the
PHYSICAL one: how many parquet files each partition holds and how big
they are. At 100 TB the classic silent killer is a producer that
starts committing per-record or per-micro-batch files — a partition
of a million 50 KB files scans orders of magnitude slower (one
footer read + seek per file), overloads the namenode/listing, and no
row-level check moves at all: counts, checksums, stats and drift are
file-layout-blind by construction.

Plan shape:

* file sizes come from ONE driver-side recursive FileSystem listing
  (Hadoop FS via the JVM gateway — works for any scheme Spark can
  read). The listing is O(#files) driver memory; that is the same
  order the Spark scan planner itself pays for the directory, so it
  is not a new scale ceiling.
* rows-per-file come from one ZERO-data-column scan grouped by
  ``input_file_name()`` — the vectorized parquet reader serves a
  zero-projection count from row-group metadata, so no data pages
  are read.
* the two file-keyed frames full-outer join (files-sized, tiny) and
  aggregate per partition. A file present on disk but contributing
  no rows (zero-row commit artifact) survives the join with
  ``n_rows = 0`` — visible, not dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdime_spark.operators.base import local_frame

#: files smaller than this are "small" by default (the usual HDFS /
#: object-store guidance is ≥ 64-128 MB targets; 32 MB is a lenient
#: floor that still catches per-record committers cold)
DEFAULT_SMALL_FILE_BYTES = 32 * 1024 * 1024


def _strip_scheme(col):
    """Normalize 'file:///x', 'file:/x', 'hdfs://nn/x' → '/x' so the
    listing side and input_file_name() side join on one spelling."""
    return F.regexp_replace(col, r"^[a-zA-Z0-9+.-]+:/+(?:[^/]*@)?[^/]*", "/")


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive FileSystem listing of the data files under ``path``
    → [(path_string, size_bytes)]. Commit markers and hidden files
    (_SUCCESS, ._*, .crc) are excluded — they are not data layout."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise ValueError(f"list_data_files: no such path {path!r}")
    it = fs.listFiles(hpath, True)
    out: list[tuple[str, int]] = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def file_layout_profile(
    spark: SparkSession,
    path: str,
    part_col: str | None = None,
    small_file_bytes: int = DEFAULT_SMALL_FILE_BYTES,
) -> DataFrame:
    """Per-partition physical layout profile of a parquet table dir:

    → (part, n_files, n_rows, total_bytes, min_file_bytes,
       max_file_bytes, avg_file_bytes, avg_file_rows, n_small,
       small_frac, n_empty)

    ``part`` comes from ``part_col`` (a hive-partition directory
    column) or is '*' for the whole table when None. ``n_small``
    counts files under ``small_file_bytes``; ``small_frac`` is the
    actionable gate (1.0 = every file is small — a per-record
    committer). ``n_empty`` counts zero-row files (commit artifacts
    that still cost a task + footer read per scan).
    """
    if small_file_bytes <= 0:
        raise ValueError(
            f"small_file_bytes must be positive, got {small_file_bytes}"
        )
    files = list_data_files(spark, path)
    if not files:
        raise ValueError(f"file_layout_profile: no data files under {path!r}")
    listing = local_frame(spark, files, "file string, size_bytes long").select(
        _strip_scheme(F.col("file")).alias("file"), "size_bytes"
    )
    df = spark.read.parquet(path)
    if part_col is not None and part_col not in df.columns:
        raise ValueError(
            f"file_layout_profile: no column {part_col!r} in {path!r} "
            f"(columns: {df.columns})"
        )
    pcol = (
        F.col(part_col).cast("string") if part_col is not None else F.lit("*")
    )
    per_file = (
        df.select(pcol.alias("part"), _strip_scheme(F.input_file_name()).alias("file"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.first("part").alias("part"))
    )
    joined = listing.join(per_file, "file", "full_outer").select(
        # a listed file with no rows: keep it, attributed to the part
        # parsed from its directory when hive-partitioned, else '*'
        F.coalesce(
            F.col("part"),
            (
                F.regexp_extract("file", f"/{part_col}=([^/]*)/", 1)
                if part_col is not None
                else F.lit("*")
            ),
        ).alias("part"),
        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        F.coalesce("size_bytes", F.lit(0)).alias("size_bytes"),
    )
    return (
        joined.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("size_bytes").alias("total_bytes"),
            F.min("size_bytes").alias("min_file_bytes"),
            F.max("size_bytes").alias("max_file_bytes"),
            F.round(F.avg("size_bytes"), 2).alias("avg_file_bytes"),
            F.round(F.avg("n_rows"), 2).alias("avg_file_rows"),
            F.count_if(F.col("size_bytes") < small_file_bytes).alias("n_small"),
            F.round(
                F.try_divide(
                    F.count_if(F.col("size_bytes") < small_file_bytes),
                    F.count(F.lit(1)),
                ),
                6,
            ).alias("small_frac"),
            F.count_if(F.col("n_rows") == 0).alias("n_empty"),
        )
        .orderBy("part")
    )


def plan_compaction(
    profile: DataFrame,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Compaction plan from a :func:`file_layout_profile` frame:
    → (part, n_files, total_bytes, target_files, action) where
    ``target_files = max(1, ceil(total_bytes / target_file_bytes))``
    and ``action`` is 'compact' when the partition holds more files
    than its data justifies (n_files > target_files), else 'ok'.

    Pure column arithmetic over the parts-sized profile — the plan is
    metadata-scale at any corpus size, and the 'compact' parts feed a
    ``df.filter(part).repartition(target_files).write`` rewrite (or an
    Iceberg rewrite_data_files call) part by part, resumable the same
    way validation is."""
    if target_file_bytes <= 0:
        raise ValueError(
            f"target_file_bytes must be positive, got {target_file_bytes}"
        )
    tgt = F.greatest(
        F.lit(1),
        F.ceil(F.col("total_bytes") / F.lit(float(target_file_bytes))).cast("long"),
    )
    return profile.select(
        "part",
        "n_files",
        "total_bytes",
        tgt.alias("target_files"),
        F.when(F.col("n_files") > tgt, F.lit("compact"))
        .otherwise(F.lit("ok"))
        .alias("action"),
    ).orderBy("part")
