"""Benchmark harness — one JSON line to stdout.

Headline: the transcript KG pipeline (BASELINE.json north_star) — melt →
triple refine → canonicalize (conversation edges, broadcast tool linking,
tool/conversation nodes) over a deterministic Zipf-skewed synthetic
transcript table sized by SF, forced through a checksum aggregation (so
column pruning cannot fake the work), plus representative testdata queries.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32),
     SPARK_GRAFT_MASTER (default local[CPUS]; local-cluster[E,C,M] spawns
                         E separate executor JVMs — the scaling proxy),
     SPARK_GRAFT_NTURNS (default 10M × sf),
     SPARK_GRAFT_KG_ONLY=1 (skip the testdata corpus queries).

Scaling evidence (BENCH/BASELINE.md): tools/bench_scaling.py runs the KG job
at local-cluster[1,2,3072] (N executors) vs local-cluster[4,2,3072] (4N) on
the same materialized input; efficiency = (tp@4N / tp@N) / 4.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from dgraphpandas_spark import horizontal_transform
from dgraphpandas_spark.operators.canonicalize import (
    conversation_edges,
    conversation_nodes,
    link_entities,
    tool_nodes,
)
from dgraphpandas_spark.session import get_spark
from dgraphpandas_spark.sources.transcripts import (
    TRANSCRIPT_CONFIG,
    synthetic_transcripts,
    tool_dictionary,
)

# testdata queries timed after the KG headline, each through checksum()
BENCH_QUERIES = (
    'kg_events_intrinsic', 'kg_orders_composite', 'kg_upserts_customer',
    'dedup_minhash_lsh', 'text_stats', 'ann_cosine_topk', 'dedup_clusters',
    'corpus_pack', 'corpus_decontaminate', 'dedup_blocks', 'events_asof_join',
    'kg_pagerank', 'corpus_tokenize', 'corpus_bpe', 'kg_pagerank_weighted',
    'emb_knn_graph', 'dedup_spans', 'emb_knn_graph_hot',
    'corpus_bpe_encode_trie', 'corpus_tfidf_topk', 'corpus_shard',
    'corpus_collocations', 'emb_knn_classify', 'emb_pq_topk', 'emb_pq_ivf_topk',
)


def checksum(df, *by):
    """One action over every column: row count and an order-independent
    hash, so column pruning cannot skip any of the work."""
    cols = [c for c in df.columns if c not in by]
    return df.groupBy(*by).agg(
        F.count('*').alias('n'), F.bit_xor(F.xxhash64(*cols)).alias('ck')
    ).collect()


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip('/'))
    try:
        return float(base.replace('sf', ''))
    except ValueError:
        return 0.1


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def materialize_source(spark, n_turns: int, workdir: str) -> str:
    """Write the synthetic transcript table to parquet ONCE (setup, not
    headline-timed).  The pipeline then *reads* it like the real job reads
    the Iceberg table — a DAG whose branches (intrinsic, edges, conversation
    nodes/edges, tool nodes) each re-scan cheap columnar storage instead of
    re-running the generator 5×.  64 files so the read parallelizes at any
    local[N] regardless of which run generated it."""
    src = os.path.join(workdir, f'transcripts_{n_turns}.parquet')
    if not os.path.exists(os.path.join(src, '_SUCCESS')):
        synthetic_transcripts(spark, n_turns=n_turns, seed=42, partitions=64).write.mode(
            'overwrite'
        ).parquet(src)
    return src


def bench_transcript_kg(spark, n_turns: int, workdir: str = '/tmp/dgraphpandas_spark_bench'):
    """Full north_star pipeline over a materialized source table;
    returns (elapsed_sec, n_triples).  Single action: intrinsic+edges are
    unioned under a part tag and checksummed in one job."""
    os.makedirs(workdir, exist_ok=True)
    src = materialize_source(spark, n_turns, workdir)

    # size read splits so each scan fans out in ~2 waves per core — the
    # classic granularity sweet spot (irrelevant at real scale where
    # files >> cores and the 128 MB default is right)
    cores = spark.sparkContext.defaultParallelism
    split = max(8 << 20, _dir_bytes(src) // (cores * 2) or 1)
    spark.conf.set('spark.sql.files.maxPartitionBytes', str(split))
    spark.conf.set('spark.sql.files.openCostInBytes', str(1 << 20))

    t0 = time.time()
    transcripts = spark.read.parquet(src)
    intrinsic, edges = horizontal_transform(
        transcripts, TRANSCRIPT_CONFIG, 'turn', assume_unique_subjects=True
    )
    dictionary = tool_dictionary(spark, 50).select(
        F.concat(F.lit('tool_'), F.col('tool_name')).alias('raw'),
        F.concat(F.lit('tool_'), F.col('canonical')).alias('canonical'),
    )
    linked = link_entities(edges, dictionary, target_predicates=['tool'])
    all_edges = linked.unionByName(conversation_edges(transcripts))
    all_intrinsic = intrinsic.unionByName(conversation_nodes(transcripts)).unionByName(
        tool_nodes(linked)
    )
    combined = all_intrinsic.withColumn('part', F.lit('intrinsic')).unionByName(
        all_edges.withColumn('part', F.lit('edges'))
    )
    # hashes subject, predicate and object, as in every earlier round
    rows = checksum(combined.drop('type'), 'part')
    elapsed = time.time() - t0
    return elapsed, sum(int(r['n']) for r in rows)


def bench_kg_materialize(spark, n_turns: int, workdir: str = '/tmp/dgraphpandas_spark_bench'):
    """North-star materialization path: bucketed triple table with
    per-bucket lineage manifests + gzip N-Quad export.  Returns elapsed."""
    import shutil

    from dgraphpandas_spark.plans.lineage import materialize_triples
    from dgraphpandas_spark.writers.upserts import generate_upserts

    src = materialize_source(spark, n_turns, workdir)
    out = os.path.join(workdir, 'materialize_out')
    shutil.rmtree(out, ignore_errors=True)

    t0 = time.time()
    transcripts = spark.read.parquet(src)
    intrinsic, edges = horizontal_transform(
        transcripts, TRANSCRIPT_CONFIG, 'turn', assume_unique_subjects=True
    )
    materialize_triples(intrinsic, os.path.join(out, 'intrinsic'), n_buckets=32)
    # export renders by RECOMPUTING the transform rather than reading the
    # materialized table back: measured at 16M turns, export-from-storage
    # (materialize edges too + scan-render) costs 88.1 s vs 63.9 s for
    # recompute — the melt chain is one cheap scan, while a second bucketed
    # write + read-back is not.  Recompute-beats-caching, measured.
    ilines, elines = generate_upserts(intrinsic, edges)
    for df, name in ((ilines, 'intrinsic'), (elines, 'edges')):
        (
            df.write.mode('overwrite')
            .option('compression', 'gzip')
            .text(os.path.join(out, f'nquads_{name}.gz'))
        )
    return time.time() - t0


def total_cores(master: str, cpus: int) -> int:
    """local[N] → N; local-cluster[E,C,M] → E*C."""
    if master.startswith('local-cluster['):
        e, c, _ = master[master.find('[') + 1:master.find(']')].split(',')
        return int(e) * int(c)
    if '[' in master:
        inner = master[master.find('[') + 1:master.find(']')]
        return cpus if inner == '*' else int(inner)
    return cpus


def main():
    sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.1')
    cpus = int(os.environ.get('SPARK_GRAFT_CPUS', '32'))
    sf = sf_of(sf_dir)
    n_turns = int(os.environ.get('SPARK_GRAFT_NTURNS', max(10_000, int(10_000_000 * sf))))
    # default single-JVM size capped at 16 threads: this KVM host penalizes
    # >16 runnable threads in one process (measured — local[16] beats
    # local[32] on the same job; see BENCH/BASELINE.md).  Explicit
    # SPARK_GRAFT_MASTER (e.g. local[32], local-cluster[4,8,8192]) overrides.
    master = os.environ.get('SPARK_GRAFT_MASTER', f'local[{min(cpus, 16)}]')
    kg_only = os.environ.get('SPARK_GRAFT_KG_ONLY') == '1'

    if master.startswith('local-cluster'):
        # multi-executor-JVM mode needs SPARK_HOME to launch workers
        import pyspark as _pyspark

        os.environ.setdefault('SPARK_HOME', os.path.dirname(_pyspark.__file__))

    cores = total_cores(master, cpus)
    spark = get_spark(
        app_name=f'bench-{master}', master=master,
        shuffle_partitions=max(cores * 4, 8),
        # locality wait only stalls the scheduler on a single host; a real
        # cluster would keep the 3s default for HDFS/S3 locality
        extra_conf={'spark.locality.wait': '0'},
    )
    spark.sparkContext.setLogLevel('ERROR')

    queries = {}
    t0 = time.time()

    el_cold, n_triples = bench_transcript_kg(spark, n_turns)
    # best of 3 warm iterations — measures engine capability; this shared
    # KVM host has double-digit% run-to-run steal noise
    warms = []
    for _ in range(3):
        el, n_triples = bench_transcript_kg(spark, n_turns)
        warms.append(el)
    queries['kg_transcripts'] = round(min(warms), 3)
    queries['kg_transcripts_cold'] = round(el_cold, 3)
    kg_warms = [round(w, 3) for w in warms]

    import __spark_entry__ as entry

    if kg_only:
        total = round(time.time() - t0, 3)
        print(json.dumps({
            'metric': 'e2e_sec', 'value': total, 'unit': 'sec',
            'queries': queries, 'sf': sf, 'cpus': cores, 'master': master,
            'n_turns': n_turns, 'kg_triples': n_triples, 'kg_warms': kg_warms,
            'kg_triples_per_sec': round(n_triples / queries['kg_transcripts'], 1),
        }))
        spark.stop()
        return

    queries['kg_materialize'] = round(bench_kg_materialize(spark, n_turns), 3)

    # Per-query protocol: run each query TWICE.  queries[name] keeps the
    # FIRST run (plan+codegen included — the protocol of rounds 1-2, so
    # cross-round comparison stays apples-to-apples); queries_warm[name]
    # records min(run1, run2) — the steady-state number this multi-tenant
    # host's steal noise and one-time janino compile otherwise bury.
    queries_warm = {}

    registry = entry.queries()
    for name in BENCH_QUERIES:
        times = []
        for _ in range(2):
            t = time.time()
            checksum(registry[name](spark, sf_dir))
            times.append(round(time.time() - t, 3))
        queries[name] = times[0]
        queries_warm[name] = min(times)

    total = round(time.time() - t0, 3)
    print(json.dumps({
        'metric': 'e2e_sec',
        'value': total,
        'unit': 'sec',
        'queries': queries,
        'queries_warm': queries_warm,
        'sf': sf,
        'cpus': cores,
        'master': master,
        'n_turns': n_turns,
        'kg_triples': n_triples,
        'kg_warms': kg_warms,
        'kg_triples_per_sec': round(n_triples / queries['kg_transcripts'], 1),
    }))
    spark.stop()


if __name__ == '__main__':
    main()
