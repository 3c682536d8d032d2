"""The benchmark's workloads.  Each one stages seeded inputs (``stage``),
runs one pass through the library's public functions (``run_pass``),
checks that pass's output against counts derived from the inputs alone
(``check``), and, in a traced run, times the calls into each layer from
outside (``layers``), after the run's passes.

All workloads are closed-loop: one client, one job at a time, each pass
starting after the previous one completes.
"""
from __future__ import annotations

import glob
import gzip
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen
from tracing import executed_plan, noop

from dgraphpandas_spark import generate_upserts, horizontal_transform
from dgraphpandas_spark.operators.canonicalize import (
    conversation_edges,
    conversation_nodes,
    link_entities,
    tool_nodes,
)
from dgraphpandas_spark.operators.dedup import dedup_clusters, jaccard_for_pairs, minhash_lsh_candidates
from dgraphpandas_spark.operators.simsearch import knn_graph
from dgraphpandas_spark.plans.lineage import materialize_triples, read_appended
from dgraphpandas_spark.plans.pipeline import to_rdf
from dgraphpandas_spark.sources.transcripts import TRANSCRIPT_CONFIG
from dgraphpandas_spark.streaming.stream import stream_materialize, stream_transcripts, stream_triples

N_BUCKETS = 32
JACCARD = 0.8  # near-duplicate threshold (dedup_clusters' default)
# steady prefix cycles a traced run times at least, after one warm-up
# cycle; over three, a sum of median deltas is no longer the median sum
TRACE_MIN_STEADY = 3


@dataclass
class Pass:
    rows: int = 0                 # output rows: N-Quad lines, or cluster rows + kNN edges
    checksum: object = None
    detail: dict = field(default_factory=dict)


def dir_stats(path: str, suffix: str = '') -> tuple[int, int]:
    """(files, bytes) under ``path`` whose name ends with ``suffix``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def triple_checksum(df) -> tuple[int, int]:
    """Order-independent (count, xor of row hashes) over triple rows."""
    r = df.agg(F.count(F.lit(1)).alias('n'),
               F.bit_xor(F.xxhash64('subject', 'predicate', 'object', 'type')).alias('ck')).collect()[0]
    return int(r['n']), int(r['ck'] or 0)


def transform(tr):
    return horizontal_transform(tr, TRANSCRIPT_CONFIG, 'turn', assume_unique_subjects=True)


def canonicalize(tr, dictionary, intrinsic, edges):
    linked = link_entities(edges, dictionary, target_predicates=['tool'])
    all_edges = linked.unionByName(conversation_edges(tr))
    all_intrinsic = intrinsic.unionByName(conversation_nodes(tr)).unionByName(tool_nodes(linked))
    return all_intrinsic, all_edges


def triples_union(intrinsic, edges):
    return intrinsic.unionByName(edges)


def lines(intrinsic, edges):
    il, el = generate_upserts(intrinsic, edges)
    return il.unionByName(el)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ''
    sizes: dict = {}

    def __init__(self, spark, work: str, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.p = self.sizes[size]
        self.expected: dict = {}
        os.makedirs(work, exist_ok=True)

    def path(self, *parts):
        return os.path.join(self.work, *parts)

    def stage(self) -> None:
        raise NotImplementedError

    def before_pass(self) -> None:
        """Untimed clean-up so that every pass does the same work."""

    def run_pass(self) -> Pass:
        raise NotImplementedError

    def check(self, p: Pass) -> list[str]:
        raise NotImplementedError

    def layers(self, tracer, seconds: float, passes: list) -> tuple[list, dict, list]:
        """Traced run, after the run's passes (``passes``: the steady
        ones): (per-cycle timings, per-layer metrics, the failures of each
        output check the layer timing made)."""
        raise NotImplementedError

    def pass_groups(self, steady) -> list[str]:
        """Spark job groups that ran the steady passes, (index, run), of a
        traced run."""
        return [f'pass/{k}' for k, _ in steady]

    # shared by the traced runs -------------------------------------------

    def traced_cycles(self, tracer, seconds: float, prefixes, extras=()):
        """Each cycle times the cumulative prefixes with a noop sink (the
        layer's time is its prefix minus the previous one, so the real
        fused plan is kept), then ``extras`` (name, fn).  Cycle 0 compiles
        the prefixes' own plans and is only a warm-up; then at least
        TRACE_MIN_STEADY steady cycles, and more until ``seconds`` pass."""
        cycles = []
        t_end = None
        k = 0
        while k <= TRACE_MIN_STEADY or time.perf_counter() < t_end:
            if k == 1:
                t_end = time.perf_counter() + seconds
            cyc = {'prefix': {}, 'extra': {}}
            with tracer.span(f'cycle{k}'):
                for name, build in prefixes():
                    cyc['prefix'][name] = tracer.timed(name, lambda: noop(build()), group=f'{name}/{k}')[0]['s']
                for name, fn in extras:
                    cyc['extra'][name] = tracer.timed(name, fn, group=f'{name}/{k}')[0]['s']
            cycles.append(cyc)
            k += 1
        return cycles

    @staticmethod
    def prefix_deltas(cycles, names) -> tuple[dict, dict]:
        """Median over the steady cycles of each prefix minus the one
        before, and the figures that check them: the deltas' sum and the
        median full (last) prefix, which the sum should match."""
        steady = cycles[1:]
        d = {}
        for i, name in enumerate(names):
            d[name] = median([c['prefix'][name] - (c['prefix'][names[i - 1]] if i else 0.0) for c in steady])
        return d, {'trace.prefix_sum_s': sum(d.values()),
                   'trace.full_prefix_s': median([c['prefix'][names[-1]] for c in steady])}


class KgBatch(Workload):
    """The read path: transcripts → horizontal_transform → link_entities +
    conversation edges/nodes + tool nodes → generate_upserts → checksum of
    the lines.  A traced run also times the write paths (KgWrite) as single
    calls, next to the read path's prefixes."""
    name = 'kg_batch'
    sizes = {
        'full': {'turns': 600_000, 'files': 16},
        'smoke': {'turns': 4_000, 'files': 2},
    }

    def __init__(self, spark, work: str, seed: int, size: str):
        super().__init__(spark, work, seed, size)
        self.write = KgWrite(spark, self.path('write'), seed, size)

    def stage(self):
        table, self.expected = gen.transcripts(self.p['turns'], self.seed)
        for d in ('src', 'dict'):
            shutil.rmtree(self.path(d), ignore_errors=True)
        gen.write_parquet_parts(table, self.path('src'), self.p['files'])
        gen.write_parquet_parts(gen.tool_dictionary(), self.path('dict'), 1)
        self.first_checksum = None

    def read(self):
        return self.spark.read.parquet(self.path('src')), self.spark.read.parquet(self.path('dict'))

    def run_pass(self):
        tr, d = self.read()
        r = lines(*canonicalize(tr, d, *transform(tr))).agg(
            F.count(F.lit(1)).alias('n'), F.bit_xor(F.xxhash64('line')).alias('ck')).collect()[0]
        return Pass(rows=int(r['n']), checksum=int(r['ck'] or 0))

    def check(self, p):
        errs = [] if p.rows == self.expected['kg_lines'] else [
            f"{p.rows} N-Quad lines, expected {self.expected['kg_lines']}"]
        if self.first_checksum is None:
            self.first_checksum = p.checksum
        elif p.checksum != self.first_checksum:
            errs.append(f'line checksum {p.checksum} differs from the first pass ({self.first_checksum})')
        return errs

    def prefixes(self):
        tr, d = self.read()
        return [
            ('sources', lambda: tr),
            ('horizontal', lambda: triples_union(*transform(tr))),
            ('canonicalize', lambda: triples_union(*canonicalize(tr, d, *transform(tr)))),
            ('upserts', lambda: lines(*canonicalize(tr, d, *transform(tr)))),
        ]

    def layers(self, tracer, seconds, passes):
        tr, d = self.read()
        self.write.stage()
        plan = ('horizontal.plan', lambda: executed_plan(triples_union(*transform(tr))))
        cycles = self.traced_cycles(tracer, seconds, self.prefixes, extras=[plan] + self.write.extras())
        deltas, m = self.prefix_deltas(cycles, ['sources', 'horizontal', 'canonicalize', 'upserts'])
        m.update({
            'sources.scan_s': deltas['sources'],
            'sources.bytes': dir_stats(self.path('src'), '.parquet')[1],
            'horizontal.s': deltas['horizontal'],
            'horizontal.plan_s': median([c['extra']['horizontal.plan'] for c in cycles[1:]]),
            'canonicalize.s': deltas['canonicalize'],
            'upserts.s': deltas['upserts'],
        })
        m.update(self.write.layer_metrics(cycles))
        with tracer.span('counts', group='counts'):
            m['horizontal.triples'] = triples_union(*transform(tr)).count()
            m['canonicalize.triples'] = triples_union(*canonicalize(tr, d, *transform(tr))).count()
        return cycles, m, self.write.errors


class KgWrite(Workload):
    """The write paths, timed in a traced kg_batch run, over ~1 KB agent
    turns staged as a few parquet files: horizontal_transform →
    materialize_triples (32 buckets, read-back verify) + to_rdf gzip N-Quad
    export, then the same files streamed through
    stream_transcripts(max_files_per_trigger=1) → stream_triples →
    stream_materialize, drained AvailableNow: one micro-batch and one
    lineage wave per file.  Each cycle writes fresh outputs and then checks
    them."""
    name = 'kg_write'
    sizes = {
        'full': {'turns': 4_000, 'words': 170, 'files': 3},
        'smoke': {'turns': 600, 'words': 170, 'files': 2},
    }

    def stage(self):
        table, self.expected = gen.transcripts(self.p['turns'], self.seed, words=self.p['words'])
        shutil.rmtree(self.path('src'), ignore_errors=True)
        gen.write_parquet_parts(table, self.path('src'), self.p['files'])
        self.batch_reference = None
        self.drains: list = []   # per stream call: (progress, waves)
        self.errors: list = []   # per check: its failures

    def source(self):
        return self.spark.read.parquet(self.path('src'))

    def materialize(self, out, verify=True):
        materialize_triples(triples_union(*transform(self.source())), self.path(out, 'table'),
                            n_buckets=N_BUCKETS, verify=verify)

    def export(self, out):
        to_rdf(self.source(), TRANSCRIPT_CONFIG, 'turn', output_dir=self.path(out, 'rdf'),
               export_rdf=True, assume_unique_subjects=True)

    def stream(self, out):
        sdf = stream_transcripts(self.spark, self.path('src'), max_files_per_trigger=1)
        q = stream_materialize(stream_triples(sdf, TRANSCRIPT_CONFIG, 'turn'),
                               self.path(out, 'stream'), self.path(out, 'ckpt'), n_buckets=N_BUCKETS)
        q.awaitTermination()
        progress = [json.loads(x.json) for x in q.recentProgress]
        waves = []
        for path in glob.glob(self.path(out, 'stream', 'manifest', 'wave=*.json')):
            with open(path) as f:
                waves.append(json.load(f))
        self.drains.append(([x for x in progress if x.get('numInputRows', 0) > 0], waves))

    def extras(self):
        def fresh(fn, out):
            def run():
                shutil.rmtree(self.path(out), ignore_errors=True)
                fn(out)
            return run

        return [
            ('lineage.materialize', fresh(self.materialize, 'mat')),
            ('lineage.materialize_noverify', fresh(lambda out: self.materialize(out, verify=False), 'mat_nv')),
            ('pipeline.export', fresh(self.export, 'export')),
            ('stream.drain', fresh(self.stream, 'stream')),
            ('write.check', lambda: self.errors.append(self.check_outputs())),
        ]

    def check_outputs(self) -> list[str]:
        """The outputs of the cycle just run, against counts derived from
        the inputs: manifest rows and gzip N-Quad lines; one micro-batch per
        file; read_appended equal to the batch transform of the same files."""
        want = self.expected['triples']
        manifest_rows = 0
        for path in glob.glob(self.path('mat', 'table', 'manifest', 'bucket=*.json')):
            with open(path) as f:
                manifest_rows += int(json.load(f)['rows'])
        gz_lines = 0
        for path in glob.glob(self.path('export', 'rdf', '*', '*.gz')):
            with gzip.open(path, 'rb') as f:
                gz_lines += sum(1 for _ in f)
        appended = triple_checksum(read_appended(self.spark, self.path('stream', 'stream')))
        if self.batch_reference is None:
            self.batch_reference = triple_checksum(triples_union(*transform(self.source())))
        batches = len(self.drains[-1][0])
        errs = []
        if manifest_rows != want:
            errs.append(f'manifest rows sum to {manifest_rows}, expected {want}')
        if gz_lines != want:
            errs.append(f'{gz_lines} gzip N-Quad lines, expected {want}')
        if batches != self.p['files']:
            errs.append(f"{batches} micro-batches, expected one per file ({self.p['files']})")
        if appended != self.batch_reference:
            errs.append(f'read_appended (count, checksum) {appended} != batch transform {self.batch_reference}')
        if appended[0] != want:
            errs.append(f'{appended[0]} triples appended, expected {want}')
        return errs

    def layer_metrics(self, cycles) -> dict:
        """The write paths' layers, from the single calls of the steady
        cycles and their micro-batches."""
        steady = cycles[1:]
        drains = self.drains[1:]
        prog = [x for progress, _ in drains for x in progress]

        def dur(*keys):
            return median([sum(x['durationMs'].get(k, 0) for k in keys) for x in prog])

        mat = median([c['extra']['lineage.materialize'] for c in steady])
        m = {
            'lineage.materialize_s': mat,
            'lineage.verify_s': mat - median([c['extra']['lineage.materialize_noverify'] for c in steady]),
            'lineage.append_ms_p50': median([w['ms'] for _, waves in drains for w in waves]),
            'pipeline.export_s': median([c['extra']['pipeline.export'] for c in steady]),
            'stream.batches': median([len(progress) for progress, _ in drains]),
            'stream.rows_per_batch': median([x['numInputRows'] for x in prog]),
            'stream.batch_ms_p50': dur('triggerExecution'),
            'stream.plan_ms_p50': dur('queryPlanning'),
            'stream.add_batch_ms_p50': dur('addBatch'),
            'stream.commit_ms_p50': dur('walCommit', 'commitOffsets'),
        }
        m['lineage.files'], m['lineage.bytes'] = dir_stats(self.path('mat', 'table', 'data'), '.parquet')
        m['pipeline.files'], m['pipeline.gzip_bytes'] = dir_stats(self.path('export', 'rdf'), '.gz')
        return m


class CorpusDedup(Workload):
    """Docs with planted near-duplicate pairs and one block larger than
    ``max_bucket`` → dedup_clusters; embeddings with one dense LSH bucket →
    knn_graph with a low ``max_bucket``, so the hot fallback runs."""
    name = 'corpus_dedup'
    sizes = {
        'full': {'docs': 400, 'pairs': 25, 'hot': 30, 'max_bucket': 20,
                 'vecs': 400, 'dim': 16, 'twins': 20, 'dense': 80, 'knn_max_bucket': 50},
        'smoke': {'docs': 300, 'pairs': 20, 'hot': 12, 'max_bucket': 10,
                  'vecs': 300, 'dim': 16, 'twins': 10, 'dense': 40, 'knn_max_bucket': 30},
    }

    def stage(self):
        docs, self.expected = gen.docs(self.p['docs'], self.seed, self.p['pairs'], self.p['hot'])
        vecs, ev = gen.embeddings(self.p['vecs'], self.seed, self.p['dim'], self.p['twins'], self.p['dense'])
        self.expected.update(ev)
        for d in ('docs', 'vecs'):
            shutil.rmtree(self.path(d), ignore_errors=True)
        gen.write_parquet_parts(docs, self.path('docs'), 4)
        gen.write_parquet_parts(vecs, self.path('vecs'), 4)

    def read(self):
        return self.spark.read.parquet(self.path('docs')), self.spark.read.parquet(self.path('vecs'))

    def clusters(self, docs):
        return dedup_clusters(docs, threshold=JACCARD, max_bucket=self.p['max_bucket'])

    def knn(self, vecs, audit=None):
        return knn_graph(vecs, k=5, dim=self.p['dim'], max_bucket=self.p['knn_max_bucket'], audit=audit)

    def run_pass(self):
        docs, vecs = self.read()
        audit: dict = {}
        clusters = self.clusters(docs).collect()
        edges = self.knn(vecs, audit).select('id', 'nbr', 'rank').collect()
        return Pass(rows=len(clusters) + len(edges), detail={
            'cluster': {r['id']: r['cluster_id'] for r in clusters},
            'top1': {r['id']: r['nbr'] for r in edges if r['rank'] == 1},
            'audit': audit,
        })

    def check(self, p):
        cluster, top1 = p.detail['cluster'], p.detail['top1']
        e = self.expected
        errs = []
        if len(cluster) != e['docs']:
            errs.append(f"{len(cluster)} cluster rows, expected one per doc ({e['docs']})")
        missed = [ab for ab in e['pairs'] if cluster.get(ab[0]) != cluster.get(ab[1])]
        if missed:
            errs.append(f'{len(missed)} planted near-duplicate pairs not clustered, e.g. {missed[:3]}')
        # nothing else is near-duplicate, so outside the hot block (ids
        # below e['hot']) each planted pair removes exactly one cluster; the
        # hot block's buckets exceed max_bucket, so it is either left as
        # singletons or, by a hot-bucket fallback, one cluster of its own
        hot = {c for i, c in cluster.items() if i < e['hot']}
        rest = {c for i, c in cluster.items() if i >= e['hot']}
        if len(rest) != e['docs'] - e['hot'] - len(e['pairs']) or hot & rest or len(hot) not in (1, e['hot']):
            errs.append(f"{len(rest)} clusters outside the hot block (expected "
                        f"{e['docs'] - e['hot'] - len(e['pairs'])}) and {len(hot)} inside it "
                        f"(expected 1 or {e['hot']}), {len(hot & rest)} shared: clusters over- or under-merged")
        lost = [ab for ab in self.expected['twins'] if top1.get(ab[0]) != ab[1] or top1.get(ab[1]) != ab[0]]
        if lost:
            errs.append(f'{len(lost)} planted twin vectors not each other\'s nearest neighbour, e.g. {lost[:3]}')
        if p.detail['audit'].get('hot_buckets', 0) < 1:
            errs.append('no hot LSH bucket: the knn_graph fallback did not run')
        return errs

    def prefixes(self):
        docs, _ = self.read()
        cand = lambda: minhash_lsh_candidates(docs, max_bucket=self.p['max_bucket'])  # noqa: E731
        return [
            ('dedup.candidates', cand),
            ('dedup.verify', lambda: jaccard_for_pairs(cand(), docs).filter(F.col('jaccard') >= JACCARD)),
            ('dedup.components', lambda: self.clusters(docs)),
        ]

    def layers(self, tracer, seconds, passes):
        docs, vecs = self.read()
        cycles = self.traced_cycles(
            tracer, seconds, self.prefixes,
            extras=[('simsearch.knn', lambda: noop(self.knn(vecs)))])
        steady = cycles[1:]
        d, m = self.prefix_deltas(cycles, ['dedup.candidates', 'dedup.verify', 'dedup.components'])
        knn_s = median([c['extra']['simsearch.knn'] for c in steady])
        audit: dict = {}
        with tracer.span('counts', group='counts'):
            cand = minhash_lsh_candidates(docs, max_bucket=self.p['max_bucket'])
            n_cand = cand.count()
            n_ver = jaccard_for_pairs(cand, docs).filter(F.col('jaccard') >= JACCARD).count()
            n_edges = self.knn(vecs, audit).count()
        return cycles, m | {
            'dedup.candidates_s': d['dedup.candidates'],
            'dedup.verify_s': d['dedup.verify'],
            'dedup.components_s': d['dedup.components'],
            'dedup.candidates': n_cand,
            'dedup.verified_pairs': n_ver,
            'dedup.precision': n_ver / n_cand if n_cand else 0.0,
            'simsearch.knn_s': knn_s,
            'simsearch.edges': n_edges,
            'simsearch.hot_buckets': audit.get('hot_buckets', 0),
        }, []


WORKLOADS = {w.name: w for w in (KgBatch, CorpusDedup)}
