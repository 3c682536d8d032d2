"""SparkSession factory tuned for the KG-construction pipeline.

All settings are plain public Spark confs: AQE (with skew-join handling for
hot conversations), Arrow for the pandas-parity path, UTC session timezone
so timestamp lexical forms are stable across hosts, and a generated-code
cache large enough to hold a whole pass of the dedup and kNN stages, and
reliable checkpoint files removed once the frames that own them are
garbage-collected.

Codegen cache sizing: Spark keeps compiled whole-stage-codegen classes in
an LRU keyed by the generated source (``spark.sql.codegen.cache.maxEntries``,
default 100).  A workload that needs more distinct classes per pass than
the cache holds evicts each class before it is used again, so every pass
recompiles nearly all of them with Janino, and the fresh classes start cold
in the JIT too.  One pass of near-dup clustering plus the hot-bucket kNN
graph (``dedup_clusters`` then ``knn_graph``) needs 131 distinct classes,
so at the default it recompiled ~105-126 of them every pass; at 1024 it
compiles them once.  The KG path needs 25 and is unaffected.
The condition to keep: one pass's distinct classes must fit in the cache.
It is a static SQL conf, so it is fixed when the session is created;
``extra_conf`` can still override it.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = 'dgraphpandas-spark',
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Default thread count is capped at 16: this class of host penalizes
    # >16 threads in one JVM (~2× slower at local[32] than local[8] on
    # identical jobs — measured, BENCH/BASELINE.md).  Explicit
    # SPARK_GRAFT_CPUS / SPARK_GRAFT_MASTER / master= always win.
    default_cpus = min(os.cpu_count() or 16, 16)
    master = master or os.environ.get(
        'SPARK_GRAFT_MASTER', f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(default_cpus))}]"
    )
    if shuffle_partitions is None:
        # local[N] → N; a real cluster would size this to 2-3× total cores.
        inner = master[master.find('[') + 1:master.find(']')] if '[' in master else '32'
        shuffle_partitions = os.cpu_count() or 32 if inner == '*' else int(inner)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config('spark.sql.session.timeZone', 'UTC')
        .config('spark.sql.shuffle.partitions', str(shuffle_partitions))
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.adaptive.coalescePartitions.enabled', 'true')
        .config('spark.sql.adaptive.skewJoin.enabled', 'true')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        .config('spark.sql.execution.arrow.maxRecordsPerBatch', '65536')
        .config('spark.driver.memory', os.environ.get('SPARK_DRIVER_MEMORY', '8g'))
        .config('spark.ui.enabled', 'false')
        .config('spark.sql.parquet.compression.codec', 'zstd')
        # The default LRU of 100 generated classes is smaller than one pass
        # of dedup_clusters + knn_graph (131 classes), which then
        # recompiles nearly every class every pass; one pass's distinct
        # classes must fit (module docstring).
        .config('spark.sql.codegen.cache.maxEntries', '1024')
        # reliable checkpoint files go with the frames that own them
        # (operators/checkpointing.py)
        .config('spark.cleaner.referenceTracking.cleanCheckpoints', 'true')
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
