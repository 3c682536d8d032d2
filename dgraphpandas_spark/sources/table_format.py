"""Table-format seam: Iceberg when the runtime is present, Parquet with an
identical bucketed layout otherwise.

The north-star input is an Iceberg table of transcripts; this sandbox ships
no Iceberg runtime jars and has no network (BASELINE.md), so the engine
reads/writes through this seam instead of hard-coding either format:

- ``read_table(spark, 'catalog.db.transcripts')``  → ``spark.read.table``
  (Iceberg/Hive catalog path — predicate pushdown, partition pruning, and
  snapshot reads come from the DataSourceV2 connector);
- ``read_table(spark, '/path/to/transcripts.parquet')`` → parquet scan.
- ``write_bucketed`` writes Iceberg ``bucket(NB, key)`` partitioning when a
  catalog identifier is given, else the equivalent explicit
  ``pmod(xxhash64(key), NB)`` parquet partition layout (the exact transform
  Iceberg's bucket() applies is murmur3-based; the layout contract —
  NB directories, key-deterministic routing, partition-pruned reads — is
  identical, which is what resume/lineage depend on).

Enable real Iceberg by launching with
``--packages org.apache.iceberg:iceberg-spark-runtime-...`` and a catalog
conf; nothing in the engine changes.
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
    one spelling of the parquet bucket layout (``write_bucketed`` and the
    manifest-committed writers in plans/lineage.py)."""
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


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName('org.apache.iceberg.spark.SparkCatalog')
        return True
    except Exception:
        return False


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


def write_bucketed(
    df: DataFrame,
    identifier: str,
    n_buckets: int,
    bucket_key: str,
    mode: str = 'overwrite',
) -> None:
    """Write partitioned by conversation bucket.

    Catalog identifier + Iceberg runtime → native ``bucket(NB, key)``
    partition transform (hidden partitioning).  Path (or no Iceberg) →
    explicit ``conv_bucket`` column + directory partitioning, one file per
    bucket (see plans/lineage.py for the manifest-committed variant).
    """
    spark = df.sparkSession
    if not is_path(identifier) and iceberg_available(spark):
        writer = df.writeTo(identifier).partitionedBy(
            F.bucket(n_buckets, F.col(bucket_key))
        )
        # DataFrameWriterV2 verbs, not a blanket createOrReplace: 'append'
        # must never silently replace the table.
        if mode == 'append':
            writer.append()
        elif mode == 'overwrite':
            writer.createOrReplace()
        else:
            raise ValueError(f'unsupported mode for catalog table: {mode!r}')
        return
    (
        with_bucket(df, n_buckets, bucket_key)
        .repartition(F.col(BUCKET_COL))
        .write.mode(mode)
        .partitionBy(BUCKET_COL)
        .parquet(identifier)
    )
