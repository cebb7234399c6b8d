"""Ingest / egress (SURVEY §2.1, S1-S7).

The reference parses headerless CSV whose last column is an integer label
(handleDataWithOutputDataWithK, Spark_MOPSO_Avg.scala:1191-1236), with a
0-based→1-based label remap (:1213-1220), an optional header drop
(:1199-1202), and a label-less mode (:1224-1235). Here all of that is
declarative: Catalyst gets the parse, the pruning and the pushdown.
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver-generated parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def read_points_csv(
    spark: SparkSession,
    path: str,
    *,
    header: bool = False,
    labeled: bool = True,
    zero_based_labels: bool = False,
    sep: str = ",",
) -> DataFrame:
    """CSV → points DataFrame (S2/S4).

    Mirrors the reference parse: all-but-last columns are double features,
    the last is the class label, shifted +1 when 0-based so cluster ids
    are always 1..k (Spark_MOPSO_Avg.scala:1208-1221). With
    ``labeled=False`` every column is a feature and label is 0 (:1224-1235).
    The line number becomes the stable point id.
    """
    df = spark.read.csv(path, header=header, inferSchema=True, sep=sep)
    cols = df.columns
    feat_cols = cols[:-1] if labeled else cols
    features = F.array(*[F.col(c).cast("double") for c in feat_cols])
    if labeled:
        label = F.col(cols[-1]).cast("int")
        if zero_based_labels:
            label = label + F.lit(1)
    else:
        label = F.lit(0)
    return (
        df.select(features.alias("features"), label.alias("label"))
        .withColumn("id", F.monotonically_increasing_id())
        .select("id", "features", "label")
    )


def points_from_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's ``embeddings`` table as the labeled points table.

    ``(vec_id, embedding float[], label)`` → ``(id, features array<double>,
    label)`` with the reference's 1-based label convention.
    """
    return read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("features"),
        (F.col("label") + F.lit(1)).cast("int").alias("label"),
    )


def points_from_columns(df: DataFrame, feature_cols: list[str], label_col: str | None, id_col: str | None = None) -> DataFrame:
    """Assemble a points table from arbitrary numeric columns."""
    features = F.array(*[F.col(c).cast("double") for c in feature_cols])
    label = F.col(label_col).cast("int") if label_col else F.lit(0)
    pid = F.col(id_col).cast("long") if id_col else F.monotonically_increasing_id()
    return df.select(pid.alias("id"), features.alias("features"), label.alias("label"))


def timestamped_path(base: str) -> str:
    """Output dir named yyyy-MM-dd-HH-mm-ss (NowDate, Spark_MOPSO_Avg.scala:802-807)."""
    return os.path.join(base, datetime.datetime.now().strftime("%Y-%m-%d-%H-%M-%S"))


def write_report(report: dict, path: str) -> str:
    """JSON report sink (replaces the reference's one-file text sink,
    saveAsTextFile at Spark_MOPSO_Avg.scala:797). Driver-side: the report
    is tiny control-plane data, never a distributed dataset.
    """
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(report, f, indent=2, default=float)
    return path


def write_points_parquet(df: DataFrame, path: str, *, single_file: bool = False) -> None:
    """Parquet sink; ``single_file`` reproduces the reference's
    single-partition write (S5/X8) via coalesce(1)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").parquet(path)


def write_partitioned(
    df: DataFrame, path: str, *, partition_by: str | list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet write — the layout that turns a
    predicate on the partition column into PARTITION PRUNING (whole
    directories skipped before any IO) instead of a row filter. At
    100 TB this is the first line of defense: a daily pipeline reading
    one day of a date-partitioned fact touches 1/365th of the files.
    Partition columns should be low-cardinality derivatives (date, not
    timestamp; country, not user_id) — each distinct value is a
    directory. Pruning is asserted in tests/test_plans.py."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    *,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSONL ingest for the documents table with EXPLICIT schema and
    quarantine semantics — the raw-ingest front door of a text pipeline
    (web-scrape and export formats are JSONL before they are parquet).

    Scale/robustness posture:
    * The schema is DECLARED, never inferred — schema inference is a
      full extra pass over the data (at 100 TB, a second 100 TB scan)
      and can silently widen types between runs. Ingest must be
      deterministic.
    * ``PERMISSIVE`` + a corrupt-record column quarantines malformed
      lines instead of failing the job (one bad line in a billion must
      not kill a day-long ingest) — downstream splits on
      ``_corrupt_record IS NULL`` and routes the quarantine to a
      dead-letter sink. ``FAILFAST`` is available for strict loads.
    * Line-delimited JSON is splittable: executors scan byte ranges in
      parallel exactly like CSV — no multiline mode, which would force
      one-file-one-task.

    Returns (doc_id, text, lang, source, n_chars, <corrupt_col>); the
    corrupt column is always present (null when the line parsed) so the
    consumer contract is schema-stable even on a clean corpus.
    """
    schema = (
        f"doc_id long, text string, lang string, source string, "
        f"n_chars long, {corrupt_col} string"
    )
    out = (
        spark.read.schema(schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    return out


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    target_file_mb: int = 512,
    min_files: int = 1,
) -> int:
    """Small-files compaction — the maintenance pass every long-running
    ingest needs: streaming sinks and incremental batch appends leave
    thousands of KB-sized parquet files, and at 100 TB the resulting
    task-per-file scheduling + footer-read overhead dominates scan time
    (a 100k-file table spends longer planning than reading). Rewrites
    ``src`` into ``dst`` as ⌈bytes / target_file_mb⌉ files (never fewer
    than ``min_files``).

    Sizing reads the FILESYSTEM byte count (via Hadoop's
    ContentSummary), not a row estimate — compressed size is what file
    layout should balance. The rewrite itself is a repartition(n) so
    output files are evenly sized regardless of input skew; use the
    partitioned variant (`write_partitioned`) downstream if the table
    is date-partitioned — then compact per partition directory.
    Returns the number of output files written.
    """
    if target_file_mb < 1 or min_files < 1:
        raise ValueError("target_file_mb and min_files must be >= 1")
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(hconf)
    total_bytes = fs.getContentSummary(p).getLength()
    n = max(int(min_files), -(-total_bytes // (target_file_mb * 1024 * 1024)))
    spark.read.parquet(src).repartition(n).write.mode("overwrite").parquet(dst)
    return n


def write_sorted(
    df: DataFrame,
    path: str,
    *,
    sort_by: str | list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Total-ordered parquet layout: repartitionByRange (a sampled
    RangePartitioning exchange — Spark picks boundaries from a
    reservoir sample, so ~equal-sized files even on skewed keys) +
    sortWithinPartitions, so file i's key range ends before file i+1's
    begins and every file is internally sorted.

    This is the clustered layout that makes downstream range predicates
    cheap twice over: (1) parquet row-group min/max stats on the sort
    key become tight, so a `WHERE key BETWEEN ...` skips whole row
    groups/files at scan time; (2) merge-style consumers (as-of joins,
    range joins) read pre-sorted runs. The sort cost is paid ONCE at
    write; the reference's reader-side full sorts are gone. The
    complement of `bucketing.py` (equality-join layout) for RANGE
    workloads."""
    cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
    (
        df.repartitionByRange(int(n_files), *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zvalue(cols: list[str], *, bits: int = 16) -> "Column":
    """Morton (Z-order) key: interleave the low ``bits`` bits of each
    column — bit i of column j lands at position i·len(cols)+j — so
    rows close in EVERY dimension get close z-values. Pure Catalyst
    bit arithmetic (shift/and/or), codegen'd, no UDF; 2 cols × 16 bits
    unrolls to 32 terms, well inside codegen limits.

    Columns must already be non-negative ints < 2^bits (bucket or
    offset them first — e.g. days-since-epoch, a bounded id, a
    quantile bucket). Values ≥ 2^bits would alias: the high bits are
    simply not interleaved, so two far-apart keys could share a
    z-value. ``bits·len(cols)`` must stay ≤ 63 (signed long)."""
    from pyspark.sql import functions as FF

    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"bits*len(cols) = {bits * n} exceeds a signed long")
    z = FF.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = FF.shiftright(FF.col(c).cast("long"), i).bitwiseAND(FF.lit(1))
            z = z.bitwiseOR(FF.shiftleft(bit, i * n + j))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    by: list[str],
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """MULTI-column clustered parquet layout: range-partition + sort on
    the Morton key of ``by``, so parquet row-group min/max stats are
    tight on EVERY clustered column at once — a predicate on any one
    of them skips most files/row groups at scan time. The multi-dim
    complement of :func:`write_sorted` (one range key) and
    `bucketing.py` (equality keys): a single sort key can only cluster
    one dimension tightly, while the z-curve bounds each file to a
    hyper-rectangle touching ~n_files^(1/len(by)) of each dimension's
    range.

    Cost model at 100 TB: one sampled RangePartitioning exchange (same
    as write_sorted — ~equal file sizes even under key skew), sort
    within partitions, paid ONCE at write; every later scan with a
    selective predicate on any clustered column reads a fraction of
    the data. The z column itself is dropped before writing — the
    layout, not the key, is the product."""
    (
        df.withColumn("__z", zvalue(by, bits=bits))
        .repartitionByRange(int(n_files), "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
