"""Data-layout writers — the partitioned/compacted parquet layout a
100 TB deployment serves queries from.

The reference persists its corpus as a single Chroma directory
(micro-infobot/app.py:127-137); at engine scale the equivalent is a
hive-partitioned parquet lake where time/tenant predicates prune whole
directories before any I/O. Two rules this module encodes:

* **Repartition by the partition columns before ``partitionBy``.**
  Without it every write task holds a file per output partition open —
  P partitions x T tasks small files, the classic lake pathology. With
  it each partition's rows land in one task → one right-sized file
  (bounded by ``maxRecordsPerFile``).
* **Partition count is a data-layout decision, not a parallelism
  decision.** Daily partitions at 100 TB ≈ hundreds of GB each; readers
  get parallelism from row-group splits within a partition, writers
  from ``maxRecordsPerFile`` rolling.

``plans/pipeline.save_index`` is the clustered case (``write_clustered``
without the range shuffle): a section is a free-text key, so each write
task sorts its rows by section and writes one file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int = 5_000_000,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a hive-partitioned parquet layout, one writer task
    per partition value (see module docstring for why)."""
    (
        df.repartition(*partition_cols)
        .write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_col: str,
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` range-clustered on ``cluster_col``: rows are range-
    partitioned into ``n_files`` contiguous key ranges and sorted within
    each, so every parquet file (and every row group inside it) carries
    a narrow, near-disjoint min/max span for the cluster column.

    This is what makes point/range predicates on ``cluster_col`` cheap
    without hive-partitioning it: any parquet reader (Spark, DuckDB,
    Trino) compares the pushed predicate against row-group statistics
    and skips whole groups. Hive-partition the coarse time key,
    range-cluster the high-cardinality secondary key — the standard
    two-level layout at 100 TB (partitioning by a high-cardinality key
    would explode the directory count instead).

    ``repartitionByRange`` samples key quantiles, so file boundaries
    stay balanced even for skewed keys.
    """
    from pyspark.sql import functions as F

    (
        df.repartitionByRange(n_files, F.col(cluster_col))
        .sortWithinPartitions(cluster_col)
        .write.mode(mode)
        .parquet(path)
    )
