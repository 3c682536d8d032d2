"""Table-format seam: catalog tables (Iceberg/Hive) or files, and the one
bucket layout the materializers write.

The north-star input is an Iceberg table of transcripts; this sandbox ships
no Iceberg runtime jars and has no network (BASELINE.md), so the engine
reads through this seam instead of hard-coding either format:

- ``read_table(spark, 'catalog.db.transcripts')``  → ``spark.read.table``
  (Iceberg/Hive catalog path — predicate pushdown, partition pruning, and
  snapshot reads come from the DataSourceV2 connector; enable it by
  launching with ``--packages org.apache.iceberg:iceberg-spark-runtime-...``
  and a catalog conf);
- ``read_table(spark, '/path/to/transcripts.parquet')`` → parquet scan.

``with_bucket`` is the explicit ``pmod(xxhash64(key), NB)`` partition
column plans/lineage.py writes: the stand-in for Iceberg's
``bucket(NB, key)`` (murmur3-based there; the layout contract — NB
directories, key-deterministic routing, partition-pruned reads — is
identical, which is what resume/lineage depend on).
"""
from __future__ import annotations

import os
from typing import Any, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import get_from_config

BUCKET_COL = 'conv_bucket'


def with_bucket(df: DataFrame, n_buckets: int, bucket_key: str = 'subject') -> DataFrame:
    """Add ``BUCKET_COL`` = ``pmod(xxhash64(bucket_key), n_buckets)`` — the
    one spelling of the parquet bucket layout (the manifest-committed
    writers in plans/lineage.py)."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(F.col(bucket_key)), F.lit(n_buckets)).cast('int'))


def is_path(identifier: str) -> bool:
    """Paths have a '/', a known data extension, or exist on the local
    filesystem; anything else is treated as a catalog table identifier.
    The existence check keeps bare relative dirs ('outdir') from being sent
    to ``spark.read.table`` and failing with a confusing table-not-found."""
    return (
        '/' in identifier
        or identifier.endswith(('.parquet', '.pq', '.csv', '.orc'))
        or os.path.exists(identifier)
    )


def read_table(spark: SparkSession, identifier: str) -> DataFrame:
    """Catalog identifier → spark.read.table (Iceberg/DSv2); path → parquet."""
    if is_path(identifier):
        if identifier.endswith('.csv'):
            return spark.read.option('header', True).option('inferSchema', True).csv(identifier)
        if identifier.endswith('.orc'):
            # ORC is the other Spark-native columnar source — same
            # pushdown/pruning contract as parquet (both go through the
            # vectorized DSv2 readers)
            return spark.read.orc(identifier)
        return spark.read.parquet(identifier)
    return spark.read.table(identifier)


def _read_source(path: str, file_config: Dict[str, Any], **kwargs) -> DataFrame:
    """A transform's path input, on the active session: ``.parquet``/``.pq``
    → parquet; anything else → CSV with a header and inferred types (the
    pandas ``read_csv`` defaults the reference relies on), ``sep`` or
    ``delimiter`` and any other ``read_csv_options`` passed through as
    Spark CSV options."""
    spark = SparkSession.getActiveSession()
    if path.endswith(('.parquet', '.pq')):
        return spark.read.parquet(path)
    read_csv_options = dict(get_from_config('read_csv_options', file_config, {}, **kwargs))
    sep = read_csv_options.pop('sep', read_csv_options.pop('delimiter', ','))
    return (
        spark.read.option('header', True)
        .option('inferSchema', True)
        .option('sep', sep)
        .options(**read_csv_options)
        .csv(path)
    )
