"""Tests for training-data ops: text analysis, dedup family, similarity
search, multimodal plumbing.  Semantics checks here; cross-engine parity is
covered by tools/check_oracles.py + the driver's CORRECTNESS gate."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = '/root/testdata/sf0.001'


@pytest.fixture(scope='module')
def docs(spark):
    return spark.read.parquet(f'{SF_DIR}/documents.parquet').cache()


@pytest.fixture(scope='module')
def emb(spark):
    return spark.read.parquet(f'{SF_DIR}/embeddings.parquet').cache()


def test_exact_dedup_finds_planted_dups(spark, docs):
    from dgraphpandas_spark.operators.dedup import exact_dedup

    doubled = docs.select('doc_id', 'text').unionByName(
        docs.select((F.col('doc_id') + 10_000).alias('doc_id'), 'text')
    )
    out = exact_dedup(doubled)
    assert out.count() == docs.count()
    assert out.filter('n_dups = 2').count() == docs.count()
    assert out.agg(F.max('keep_id')).first()[0] < 10_000  # min id wins


def test_ngram_jaccard_and_minhash_agree_on_planted_dups(spark, docs):
    from dgraphpandas_spark.operators.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    sample = docs.limit(30).select('doc_id', 'text')
    doubled = sample.unionByName(
        sample.select((F.col('doc_id') + 10_000).alias('doc_id'), 'text')
    )
    exact_pairs = {(r['doc_id'], r['doc_id'] + 10_000) for r in sample.collect()}

    jac = {
        (r['id_a'], r['id_b'])
        for r in ngram_jaccard_pairs(doubled, threshold=0.99).collect()
    }
    assert exact_pairs <= jac

    cand = {
        (r['id_a'], r['id_b'])
        for r in minhash_lsh_candidates(doubled, bands=4).collect()
    }
    assert exact_pairs <= cand  # identical docs share every band bucket


def test_simhash_identical_docs_equal_fingerprints(spark, docs):
    from dgraphpandas_spark.operators.dedup import simhash

    out = simhash(docs.limit(20))
    assert out.count() == 20
    vals = [r['simhash'] for r in out.collect()]
    assert all(0 <= v < 2 ** 16 for v in vals)


def test_text_functions(spark):
    from dgraphpandas_spark.functions import text as TX

    df = spark.createDataFrame(
        [(1, 'the quick brown fox. it is fast!'), (2, 'der hund und die katze ist da'), (3, '')],
        'doc_id int, text string',
    )
    out = df.select(
        'doc_id',
        TX.token_count(F.col('text')).alias('n'),
        TX.lang_id(F.col('text')).alias('lang'),
        TX.fingerprint(F.col('text')).alias('fp'),
        F.round(TX.quality_score(F.col('text')), 6).alias('q'),
    ).collect()
    by_id = {r['doc_id']: r for r in out}
    assert by_id[1]['n'] == 7 and by_id[1]['lang'] == 'en'
    assert by_id[2]['lang'] == 'de'
    assert by_id[3]['n'] == 0 and by_id[3]['lang'] == 'und'
    assert len(by_id[1]['fp']) == 32
    assert 0.0 <= by_id[1]['q'] <= 1.0


def test_brute_force_topk_and_lsh(spark, emb):
    from dgraphpandas_spark.operators.simsearch import (
        brute_force_topk,
        bucket_histogram,
        lsh_topk,
    )

    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    top = brute_force_topk(emb, qvec, k=5).collect()
    assert len(top) == 5
    assert top[0]['vec_id'] == 0 and abs(top[0]['score'] - 1.0) < 1e-6
    scores = [r['score'] for r in top]
    assert scores == sorted(scores, reverse=True)

    hist = bucket_histogram(emb, n_planes=4, dim=len(qvec)).collect()
    assert sum(r['n_vectors'] for r in hist) == emb.count()
    assert len(hist) > 1, 'LSH should spread vectors over buckets'

    lsh = lsh_topk(emb, qvec, k=5, n_planes=4)
    rows = lsh.collect()
    assert rows and rows[0]['vec_id'] == 0, 'query vector must be in its own bucket'


def test_ivf_assign_and_topk(spark, emb):
    from dgraphpandas_spark.operators.simsearch import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
    )

    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    dim = len(qvec)

    assigned = ivf_assign(emb, n_cells=8, dim=dim, seed=7)
    cells = assigned.groupBy('cell').count().collect()
    assert sum(r['count'] for r in cells) == emb.count(), 'every vector gets exactly one cell'
    assert all(0 <= r['cell'] < 8 for r in cells)
    assert len(cells) > 1, 'quantizer should spread vectors over cells'

    rows = ivf_topk(emb, qvec, k=5, n_cells=8, nprobe=8, seed=7, vec_col='embedding').collect()
    exact = brute_force_topk(emb, qvec, k=5).collect()
    # probing ALL cells must reproduce the exact result
    assert [r['vec_id'] for r in rows] == [r['vec_id'] for r in exact]

    # probing 2/8 cells: query's own vector is in a probed cell by construction
    rows2 = ivf_topk(emb, qvec, k=5, n_cells=8, nprobe=2, seed=7).collect()
    assert rows2 and rows2[0]['vec_id'] == 0


def test_embedding_neardup_lsh_subset_of_exact(spark, emb):
    from dgraphpandas_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    dim = len(emb.first()['embedding'])
    exact = {(r['id_a'], r['id_b']) for r in
             embedding_neardup_pairs(emb, threshold=0.4).collect()}
    lsh8 = {(r['id_a'], r['id_b']) for r in
            embedding_neardup_pairs_lsh(emb, threshold=0.4, n_planes=8, dim=dim).collect()}
    lsh2 = {(r['id_a'], r['id_b']) for r in
            embedding_neardup_pairs_lsh(emb, threshold=0.4, n_planes=2, dim=dim).collect()}
    assert lsh8 <= exact, 'LSH blocking must never invent pairs'
    assert lsh2 <= exact
    assert len(lsh2) >= len(lsh8), 'fewer planes → coarser blocks → higher recall'


def test_dedup_clusters_groups_planted_dups(spark, docs):
    from dgraphpandas_spark.operators.dedup import dedup_clusters

    sample = docs.limit(20).select('doc_id', 'text')
    # triple copies: doc, doc+10k, doc+20k → one 3-member cluster each
    tripled = (
        sample.unionByName(sample.select((F.col('doc_id') + 10_000).alias('doc_id'), 'text'))
        .unionByName(sample.select((F.col('doc_id') + 20_000).alias('doc_id'), 'text'))
    )
    out = dedup_clusters(tripled, bands=4, threshold=0.99).cache()
    assert out.count() == tripled.count()  # every doc labeled
    base_ids = [r['doc_id'] for r in sample.collect()]
    rows = {r['id']: (r['cluster_id'], r['keep']) for r in out.collect()}
    for i in base_ids:
        # all three copies share the min id as cluster, only the min keeps
        assert rows[i] == (i, True)
        assert rows[i + 10_000] == (i, False)
        assert rows[i + 20_000] == (i, False)
    # exactly one keeper per cluster
    keepers = out.filter('keep').count()
    assert keepers == out.select('cluster_id').distinct().count()


def test_hot_shingle_guard_drops_quadratic_candidates(spark):
    from dgraphpandas_spark.operators.dedup import ngram_jaccard_pairs

    # 40 docs sharing ONE hot shingle; otherwise fully distinct
    rows = [(i, f'common hot shingle plus unique{i} words{i} here{i}') for i in range(40)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    unguarded = ngram_jaccard_pairs(df, threshold=0.01, max_df=None).count()
    guarded = ngram_jaccard_pairs(df, threshold=0.01, max_df=10).count()
    assert unguarded == 40 * 39 / 2  # the hot shingle makes all-pairs
    assert guarded == 0  # guard removes the quadratic blowup


def test_ngram_jaccard_pairs_leaves_no_cache_entry(spark):
    """Each corpus ngram_jaccard_pairs runs over must not leave a persisted
    frame behind: two corpora, two calls, no persistent RDD added to the
    session.  Frames earlier tests dropped may be unpersisted meanwhile by
    Spark's ContextCleaner (on a JVM GC), so the check is on RDD ids, not
    on the count."""
    from dgraphpandas_spark.operators.dedup import ngram_jaccard_pairs

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    for tag in ('x', 'y'):
        df = spark.createDataFrame(
            [(1, f'a b c d {tag}'), (2, f'a b c d {tag}'), (3, 'q r s t')],
            'doc_id long, text string',
        )
        pairs = ngram_jaccard_pairs(df, n=2, threshold=0.5).collect()
        assert [(r['id_a'], r['id_b']) for r in pairs] == [(1, 2)]
    assert persisted() - before == set()


def test_hot_bucket_guard_on_embedding_lsh(spark, emb):
    from dgraphpandas_spark.operators.dedup import embedding_neardup_pairs_lsh

    dim = len(emb.first()['embedding'])
    # 0 planes → every vector in one bucket; cap 10 → bucket dropped entirely
    capped = embedding_neardup_pairs_lsh(
        emb, threshold=0.0, n_planes=0, dim=dim, max_bucket=10
    ).count()
    assert capped == 0


def test_trained_ivf_beats_seeded_recall(spark, emb):
    """Lloyd-trained centroids must beat the seeded random-projection
    quantizer on mean recall@10 vs brute force at equal nprobe (VERDICT r1
    item 5). Deterministic: md5-seeded init, fixed query set."""
    from dgraphpandas_spark.operators.simsearch import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    cents = train_ivf_centroids(emb, n_cells=8, iters=2)
    qids = [0, 3, 7, 11, 19, 23, 31, 42]
    seeded, trained = 0, 0
    for qid in qids:
        qvec = [float(x) for x in emb.filter(f'vec_id = {qid}').first()['embedding']]
        truth = {r['vec_id'] for r in brute_force_topk(emb, qvec, k=10).collect()}
        s = {r['vec_id'] for r in ivf_topk(emb, qvec, k=10, n_cells=8, nprobe=2).collect()}
        t = {r['vec_id'] for r in ivf_topk(
            emb, qvec, k=10, n_cells=8, nprobe=2, centroids=cents
        ).collect()}
        seeded += len(s & truth)
        trained += len(t & truth)
    assert trained > seeded  # measured 43 vs 35 on the sf0.001 fixture


def test_multi_probe_lsh_raises_recall(spark, emb):
    """Hamming-distance-1 multi-probe (VERDICT r1 item 6): recall must
    reach >= 0.95 of the exact-pair baseline on planted near-dups, and
    strictly beat single-probe on organic pairs, without inventing pairs."""
    from dgraphpandas_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_lsh,
    )

    base = emb.select('vec_id', 'embedding')
    dim = len(base.first()['embedding'])

    # planted near-dups: copy of every vector with dim 0 scaled 1.05
    pert = base.select(
        (F.col('vec_id') + 100_000).alias('vec_id'),
        F.transform(
            F.col('embedding'),
            lambda x, i: F.when(i == 0, x * F.lit(1.05)).otherwise(x),
        ).alias('embedding'),
    )
    planted = base.unionByName(pert)
    exact = {(r['id_a'], r['id_b'])
             for r in embedding_neardup_pairs(planted, threshold=0.8).collect()}
    multi = {(r['id_a'], r['id_b'])
             for r in embedding_neardup_pairs_lsh(
                 planted, threshold=0.8, n_planes=3, dim=dim, multi_probe=True
             ).collect()}
    assert multi <= exact, 'multi-probe must never invent pairs'
    assert len(multi & exact) >= 0.95 * len(exact)

    # organic pairs at the looser threshold: strict recall improvement
    exact4 = {(r['id_a'], r['id_b'])
              for r in embedding_neardup_pairs(base, threshold=0.4).collect()}
    single4 = {(r['id_a'], r['id_b'])
               for r in embedding_neardup_pairs_lsh(
                   base, threshold=0.4, n_planes=2, dim=dim
               ).collect()}
    multi4 = {(r['id_a'], r['id_b'])
              for r in embedding_neardup_pairs_lsh(
                  base, threshold=0.4, n_planes=2, dim=dim, multi_probe=True
              ).collect()}
    assert multi4 <= exact4
    assert len(multi4 & exact4) > len(single4 & exact4)


def test_lsh_topk_multi_probe_superset(spark, emb):
    from dgraphpandas_spark.operators.simsearch import brute_force_topk, lsh_topk

    qvec = [float(x) for x in emb.filter('vec_id = 7').first()['embedding']]
    truth = {r['vec_id'] for r in brute_force_topk(emb, qvec, k=10).collect()}
    single = {r['vec_id'] for r in lsh_topk(emb, qvec, k=10, n_planes=4).collect()}
    multi = {r['vec_id'] for r in lsh_topk(
        emb, qvec, k=10, n_planes=4, multi_probe=True
    ).collect()}
    assert len(multi & truth) >= len(single & truth)


def test_multimodal_real_codecs_roundtrip():
    """WAV and PPM built-in decoders are REAL: encode → decode recovers the
    exact signal/pixels (no Spark needed — pure codec check)."""
    import numpy as np

    from dgraphpandas_spark.operators.multimodal import (
        decode_pgm,
        decode_ppm,
        decode_wav,
        encode_ppm,
        encode_wav,
    )

    t = np.arange(1600, dtype=np.float32) / 16_000.0
    sig = 0.5 * np.sin(2 * np.pi * 440 * t)
    d = decode_wav(encode_wav(sig, framerate=16_000))
    assert d['kind'] == 'audio' and d['framerate'] == 16_000
    assert d['duration_ms'] == 100
    assert np.abs(d['samples'] - sig).max() < 1e-3  # 16-bit quantization

    pixels = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    d = decode_ppm(encode_ppm(pixels))
    assert d['width'] == 6 and d['height'] == 4
    assert (d['pixels'] == pixels).all()

    # header tolerance: comments + multi-whitespace
    gray = bytes(range(12))
    payload = b'P5 # comment\n# another\n 4\t3 255\n' + gray
    d = decode_pgm(payload)
    assert d['width'] == 4 and d['height'] == 3
    assert d['pixels'].ravel().tolist() == list(gray)


def test_winnow_fingerprints_properties(spark):
    """Winnowing guarantees: shared runs ≥ w+k−1 tokens produce shared
    fingerprints; short docs fingerprint to empty/global-min; deterministic."""
    from pyspark.sql import functions as F

    from dgraphpandas_spark.functions.text import winnow_fingerprints

    shared = 'alpha beta gamma delta epsilon zeta eta theta'
    rows = [
        (1, shared + ' one two'),
        (2, 'prefix words here ' + shared),
        (3, 'ab'),            # < k tokens → empty set
        (4, 'a b c'),          # exactly k tokens, < w grams → global min
        (5, ''),
    ]
    df = spark.createDataFrame(rows, 'doc_id int, text string')
    out = df.select(
        'doc_id', winnow_fingerprints(F.col('text'), k=3, w=4).alias('fps')
    ).collect()
    fps = {r['doc_id']: set(r['fps']) for r in out}
    # guarantee: the 8-token shared run (6 grams ≥ w) yields window minima
    # common to both docs
    assert fps[1] & fps[2], 'shared run must produce overlapping fingerprints'
    assert fps[3] == set() and fps[5] == set()
    assert len(fps[4]) == 1
    again = df.select(
        'doc_id', winnow_fingerprints(F.col('text'), k=3, w=4).alias('fps')
    ).collect()
    assert {r['doc_id']: set(r['fps']) for r in again} == fps


def test_curate_corpus_filters_and_dedups(spark, docs):
    from dgraphpandas_spark.operators.curation import curate_corpus

    doubled = docs.select('doc_id', 'text').unionByName(
        docs.select((F.col('doc_id') + 10_000).alias('doc_id'), 'text')
    )
    kept = curate_corpus(doubled, min_quality=0.5, langs=('en',), bands=4).collect()
    assert kept, 'threshold 0.5 keeps part of the corpus'
    assert all(r['quality'] >= 0.5 and r['lang_pred'] == 'en' for r in kept)
    # every kept doc is its cluster's min id: the planted +10k duplicate of
    # any kept doc must NOT be kept
    ids = {r['doc_id'] for r in kept}
    assert not any(i + 10_000 in ids for i in ids if i < 10_000), (
        'planted exact duplicates must collapse to the min id'
    )
    # quality gate is applied before dedup: nothing below threshold leaks in
    n_passing = doubled.count()
    assert 0 < len(kept) < n_passing


def test_ivf_materialized_query_matches_inline(spark, emb, tmp_path):
    """The materialized inverted file answers nprobe queries identically to
    the inline path, while reading only the probed cell partitions."""
    import contextlib
    import io

    from dgraphpandas_spark.operators.simsearch import (
        ivf_materialize,
        ivf_query_materialized,
        ivf_topk,
        train_ivf_centroids,
    )

    out = str(tmp_path / 'ivf_index')
    trained = train_ivf_centroids(emb, 8, 2)
    cents = ivf_materialize(emb, out, n_cells=8, centroids=trained)
    assert cents == [list(map(float, c)) for c in trained]

    qvec = [float(x) for x in emb.filter('vec_id = 0').first()['embedding']]
    stored = ivf_query_materialized(spark, out, cents, qvec, k=5, nprobe=2)
    inline = ivf_topk(emb, qvec, k=5, n_cells=8, nprobe=2, centroids=cents)
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in inline.collect()]

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        stored.explain(True)
    p = buf.getvalue()
    assert 'cell' in p.split('PartitionFilters:')[1].split(']')[0], \
        'materialized query must prune cell partitions at the scan'


def test_decode_media_stats_matches_fixture_params(spark):
    """decode_media_stats emits header/content facts only a working codec
    can produce; cross-check them against the sha256-seeded fixture params
    computed independently here (same closed forms the DuckDB oracle
    uses)."""
    import hashlib

    from dgraphpandas_spark.operators.multimodal import (
        decode_media_stats,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, n_rows=20, seed=42)
    rows = {r['media_id']: r for r in decode_media_stats(media).collect()}
    assert len(rows) == 20
    for i in range(20):
        h = hashlib.sha256(f'42:{i}'.encode()).digest()
        r = rows[i]
        if i % 2 == 0:
            n = 800 + h[1] * 8
            assert r['kind'] == 'audio'
            assert r['framerate'] == 16_000
            assert r['n_samples'] == n
            assert r['n_bytes'] == 44 + 2 * n  # 44-byte RIFF/fmt/data header
        else:
            w, hh = 16 + h[0] % 48, 16 + h[1] % 48
            assert r['kind'] == 'image'
            assert (r['width'], r['height']) == (w, hh)
            c0 = hh * sum(x * 255 // (w - 1) for x in range(w))
            c1 = w * sum(y * 255 // (hh - 1) for y in range(hh))
            assert r['pixel_sum'] == c0 + c1 + w * hh * h[2]
            header = b'P6\n%d %d\n255\n' % (w, hh)
            assert r['n_bytes'] == len(header) + w * hh * 3


def test_split_corpus_deterministic_and_weighted(spark, docs):
    """Hash-split: membership is a pure function of id (identical across
    calls and repartitions), weights respected, exactly one split per
    doc."""
    from dgraphpandas_spark.operators.curation import split_corpus

    a = {r['doc_id']: r['split'] for r in split_corpus(docs).select('doc_id', 'split').collect()}
    b = {
        r['doc_id']: r['split']
        for r in split_corpus(docs.repartition(7)).select('doc_id', 'split').collect()
    }
    assert a == b, 'split must not depend on physical layout'
    assert set(a.values()) <= {'train', 'val', 'test'}
    n = len(a)
    train_frac = sum(1 for s in a.values() if s == 'train') / n
    assert train_frac > 0.8  # 98% nominal, small-sample slack

    custom = split_corpus(docs, weights={'a': 50, 'b': 50})
    counts = {r['split']: r['n'] for r in custom.groupBy('split').agg(F.count('*').alias('n')).collect()}
    assert set(counts) == {'a', 'b'}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_corpus(docs, weights={'a': 60, 'b': 50})


def test_pack_sequences_conserves_tokens_and_orders(spark, docs):
    """Offset packing: per-shard token totals are conserved, offsets are
    the exclusive prefix sums in id order, pack_id = start//capacity."""
    from dgraphpandas_spark.operators.curation import pack_sequences
    from dgraphpandas_spark.functions.text import token_count

    cap = 64
    packed = pack_sequences(docs, capacity=cap, n_shards=4)
    rows = packed.orderBy('shard', 'doc_id').collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r['shard'], []).append(r)
    for shard, rs in by_shard.items():
        off = 0
        for r in rs:  # already id-ordered within shard
            assert r['start_offset'] == off
            assert r['pack_id'] == off // cap
            off += r['n_tokens']
    total = docs.select(F.sum(token_count(F.col('text')))).first()[0]
    assert sum(r['n_tokens'] for r in rows) == total


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc containing an eval doc's exact phrase is flagged; clean
    docs are not; the eval side joins in as a broadcast."""
    from dgraphpandas_spark.operators.curation import decontaminate

    train = spark.createDataFrame(
        [
            (1, 'the quick brown fox jumps over the lazy dog tonight'),
            (2, 'completely unrelated text about spark physical plans here'),
            (3, 'prefix words then the quick brown fox jumps over the end'),
        ],
        'doc_id long, text string',
    )
    ev = spark.createDataFrame(
        [(100, 'the quick brown fox jumps over a fence')], 'doc_id long, text string'
    )
    out = decontaminate(train, ev, n=5)
    rows = {r['id']: r for r in out.collect()}
    assert set(rows) == {1, 3}, 'exact-phrase overlap must flag docs 1 and 3 only'
    assert rows[1]['n_hits'] >= 1 and rows[3]['n_distinct_grams'] >= 1

    import io, contextlib

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert 'BroadcastHashJoin' in buf.getvalue()


def test_pii_redaction(spark):
    """Emails/SSNs/phones redact to placeholders with correct counts; an
    SSN-shaped run is not double-counted as a phone."""
    from dgraphpandas_spark.functions.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, 'mail a.b+c@x-corp.io or call 555-123-4567 now'),
            (2, 'ssn is 123-45-6789, nothing else'),
            (3, 'clean text with numbers 12345 and no pii'),
        ],
        'id long, text string',
    )
    c = pii_counts(F.col('text'))
    rows = {
        r['id']: r
        for r in df.select(
            'id', c['email'].alias('e'), c['ssn'].alias('s'), c['phone'].alias('p'),
            redact_pii(F.col('text')).alias('red'),
        ).collect()
    }
    assert (rows[1]['e'], rows[1]['s'], rows[1]['p']) == (1, 0, 1)
    assert rows[1]['red'] == 'mail <EMAIL> or call <PHONE> now'
    assert (rows[2]['e'], rows[2]['s'], rows[2]['p']) == (0, 1, 0)
    assert rows[2]['red'] == 'ssn is <SSN>, nothing else'
    assert (rows[3]['e'], rows[3]['s'], rows[3]['p']) == (0, 0, 0)
    assert rows[3]['red'] == 'clean text with numbers 12345 and no pii'


def test_sample_stratified_deterministic_rates(spark, docs):
    """Rate 1.0 keeps the whole stratum, 0.0 drops it, and membership is a
    pure function of doc_id (stable under repartitioning)."""
    from dgraphpandas_spark.operators.curation import sample_stratified

    rates = {'de': 1.0, 'en': 0.5, 'fr': 0.0}
    kept = sample_stratified(docs, rates=rates, default_rate=0.0)
    by_lang = {r['lang']: r['n'] for r in kept.groupBy('lang').agg(F.count('*').alias('n')).collect()}
    totals = {r['lang']: r['n'] for r in docs.groupBy('lang').agg(F.count('*').alias('n')).collect()}
    assert by_lang.get('de') == totals['de']          # rate 1.0 → all kept
    assert 'fr' not in by_lang                        # rate 0.0 → none
    assert 'es' not in by_lang and 'zh' not in by_lang  # default 0.0
    assert 0 < by_lang['en'] < totals['en']           # partial stratum

    ids = sorted(r['doc_id'] for r in kept.select('doc_id').collect())
    ids_repart = sorted(
        r['doc_id']
        for r in sample_stratified(docs.repartition(13), rates=rates, default_rate=0.0)
        .select('doc_id').collect()
    )
    assert ids == ids_repart

    # salt changes the kept set (independent draws), same expected rate
    salted = sample_stratified(docs, rates=rates, default_rate=0.0, salt='v2')
    assert sorted(r['doc_id'] for r in salted.select('doc_id').collect()) != ids


def test_build_vocab_counts_and_tiebreak(spark):
    from dgraphpandas_spark.operators.curation import build_vocab

    df = spark.createDataFrame(
        [
            (1, 'b a b c'),
            (2, 'a b zz'),
            (3, 'c a'),
        ],
        'doc_id long, text string',
    )
    rows = build_vocab(df, k=10, min_count=1).collect()
    got = {r['token']: (r['n_docs'], r['n_occurrences'], r['token_id']) for r in rows}
    # b: 3 occ in 2 docs; a: 3 occ in 3 docs; tie on count → token ASC wins
    assert got['a'] == (3, 3, 1)
    assert got['b'] == (2, 3, 2)
    assert got['c'] == (2, 2, 3)
    assert got['zz'] == (1, 1, 4)
    assert build_vocab(df, k=2, min_count=1).count() == 2
    assert build_vocab(df, k=10, min_count=2).count() == 3  # zz filtered


def test_sessionize_gap_boundaries_and_ties(spark):
    from dgraphpandas_spark.operators.sessions import sessionize, session_stats

    df = spark.createDataFrame(
        [
            (1, 10, '2024-01-01 00:00:00'),
            (2, 10, '2024-01-01 00:10:00'),   # 600s gap → same session
            (3, 10, '2024-01-01 01:00:01'),   # 3001s gap → new session
            (4, 10, '2024-01-01 01:00:01'),   # tie ts → event_id orders it
            (5, 20, '2024-01-01 00:00:00'),   # other user independent
        ],
        'event_id long, user_id long, ts string',
    ).withColumn('ts', F.col('ts').cast('timestamp'))
    s = {r['event_id']: r['session_idx'] for r in sessionize(df, gap=1800).collect()}
    assert s == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}

    stats = {
        (r['user_id'], r['session_idx']): (r['n_events'], r['duration_s'])
        for r in session_stats(df, gap=1800).collect()
    }
    assert stats[(10, 1)] == (2, 600)
    assert stats[(10, 2)] == (2, 0)
    assert stats[(20, 1)] == (1, 0)


def test_repetition_stats(spark):
    """Gopher-style repetition filters: hand-computed fractions, edge cases
    (empty doc, single token, all-same doc), and the keep verdict."""
    from pyspark.sql import functions as F  # noqa: F401

    from dgraphpandas_spark.functions.text import with_repetition_stats

    rows = [
        (1, 'a b a b a b'),        # 6 toks {a,b}; bigrams: 'a b'x3,'b a'x2 → top 3/5
        (2, 'x y z w'),            # all unique → top bigram frac = 1/3
        (3, 'q q q q q'),          # degenerate: one token repeated
        (4, 'solo'),               # 1 token → no bigrams/trigrams
        (5, ''),                   # empty → all 0.0
        (6, 'a b ' * 15),          # 30 toks → 29 bigrams ≥ floor, top 15/29
        (7, ' '.join(f't{i} u{i}' for i in range(15))),  # 30 unique toks
    ]
    df = spark.createDataFrame(rows, 'doc_id int, text string')
    out = {r['doc_id']: r for r in with_repetition_stats(df).collect()}

    assert abs(out[1]['dup_token_frac'] - 4 / 6) < 1e-6
    assert abs(out[1]['top_bigram_frac'] - 3 / 5) < 1e-6
    # trigrams: aba, bab, aba, bab → 2 dup of 4
    assert abs(out[1]['dup_trigram_frac'] - 0.5) < 1e-6
    assert out[1]['keep']  # only 5 bigrams → concentration floor waives top

    assert out[2]['dup_token_frac'] == 0.0
    assert abs(out[2]['top_bigram_frac'] - 1 / 3) < 1e-6  # unique grams → 1/n
    assert out[2]['keep']

    assert abs(out[3]['dup_token_frac'] - 4 / 5) < 1e-6
    assert out[3]['top_bigram_frac'] == 1.0   # only bigram 'q q'
    assert out[3]['keep']  # short doc: floor waives the top-bigram filter

    for d in (4, 5):
        assert out[d]['top_bigram_frac'] == 0.0
        assert out[d]['dup_trigram_frac'] == 0.0
        assert out[d]['keep']
    assert out[5]['dup_token_frac'] == 0.0

    # long repeated doc: 29 bigrams ('a b'x15, 'b a'x14) → top 15/29 > 0.18
    assert abs(out[6]['top_bigram_frac'] - 15 / 29) < 1e-6
    assert not out[6]['keep']
    # long diverse doc: 29 unique bigrams → top 1/29, keeps
    assert abs(out[7]['top_bigram_frac'] - 1 / 29) < 1e-6
    assert out[7]['keep']


def test_semantic_dedup_fixture(spark):
    """SemDeDup keep rule on a hand-built 2-cluster fixture: within-cluster
    near-dups collapse to the lowest id; a near-identical pair SPLIT across
    cells is deliberately not caught (the SemDeDup approximation)."""
    from dgraphpandas_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),      # cell 0 representative
        (2, [0.999, 0.02]),   # dup of 1 (cos ≈ 0.9998) → dropped
        (3, [0.0, 1.0]),      # cell 1 representative
        (4, [0.02, 0.999]),   # dup of 3 → dropped
        (5, [0.70, 0.72]),    # cell 1, far from 3/4 → kept
        (6, [0.708, 0.706]),  # cell 0; near-dup of 5 but other cell → kept
    ]
    df = spark.createDataFrame(rows, 'vec_id long, embedding array<float>')
    out = {
        r['vec_id']: (r['cell'], r['keep'])
        for r in semantic_dedup(
            df, threshold=0.95, centroids=[[1.0, 0.0], [0.0, 1.0]]
        ).collect()
    }
    assert {k: v[1] for k, v in out.items()} == {
        1: True, 2: False, 3: True, 4: False, 5: True, 6: True
    }
    assert out[5][0] == 1 and out[6][0] == 0, 'the 5/6 pair must straddle cells'


def test_pagerank_and_degree_stats(spark):
    """PageRank on a 3-cycle sits at its fixed point (1/3 each); a
    symmetrized star concentrates rank on the hub; mass is conserved
    (no dangling nodes in a symmetrized graph)."""
    from dgraphpandas_spark.operators.graph import degree_stats, pagerank

    cycle = spark.createDataFrame(
        [('a', 'b'), ('b', 'c'), ('c', 'a')], 'src string, dst string'
    )
    pr = {r['id']: r['pr'] for r in pagerank(cycle, iters=3).collect()}
    assert all(abs(v - 0.333333) < 2e-6 for v in pr.values())

    star = spark.createDataFrame(
        [('x', 'h'), ('y', 'h'), ('z', 'h'), ('h', 'x'), ('h', 'y'), ('h', 'z')],
        'src string, dst string',
    )
    spr = {r['id']: r['pr'] for r in pagerank(star, iters=3).collect()}
    assert spr['h'] > spr['x'] and spr['x'] == spr['y'] == spr['z']
    assert abs(sum(spr.values()) - 1.0) < 1e-4, 'rank mass conserved'

    deg = {r['id']: (r['out_degree'], r['in_degree']) for r in degree_stats(star).collect()}
    assert deg['h'] == (3, 3) and deg['x'] == (1, 1)

    # directed chain with a dangling sink: a→b→c, c emits nothing
    chain = spark.createDataFrame([('a', 'b'), ('b', 'c')], 'src string, dst string')
    cpr = {r['id']: r['pr'] for r in pagerank(chain, iters=2).collect()}
    assert cpr['c'] > cpr['b'] > cpr['a'] >= 0.05  # rank flows down the chain
    cdeg = {r['id']: (r['out_degree'], r['in_degree']) for r in degree_stats(chain).collect()}
    assert cdeg == {'a': (1, 0), 'b': (1, 1), 'c': (0, 1)}


def test_pagerank_weighted_and_personalized(spark):
    """Weighted/personalized PageRank invariants: unit weights + uniform
    teleport reduce EXACTLY to plain pagerank; heavier edges attract more
    rank; a single-seed teleport concentrates rank at (and around) the
    seed, and unreachable components get zero."""
    from dgraphpandas_spark.operators.graph import pagerank, pagerank_weighted

    star = spark.createDataFrame(
        [('x', 'h'), ('y', 'h'), ('z', 'h'), ('h', 'x'), ('h', 'y'), ('h', 'z')],
        'src string, dst string',
    )
    unit = star.withColumn('weight', F.lit(1))
    want = {r['id']: r['pr'] for r in pagerank(star, iters=3).collect()}
    got = {r['id']: r['pr'] for r in pagerank_weighted(unit, iters=3).collect()}
    assert got == want, 'unit weights must reduce to plain pagerank'

    # h splits mass 9:1 between x and y — x must outrank y
    wg = spark.createDataFrame(
        [('h', 'x', 9), ('h', 'y', 1), ('x', 'h', 1), ('y', 'h', 1)],
        'src string, dst string, weight long',
    )
    wpr = {r['id']: r['pr'] for r in pagerank_weighted(wg, iters=3).collect()}
    assert wpr['x'] > wpr['y']

    # personalization: two disconnected 2-cycles, teleport seeded on 'a'
    two = spark.createDataFrame(
        [('a', 'b', 1), ('b', 'a', 1), ('c', 'd', 1), ('d', 'c', 1)],
        'src string, dst string, weight long',
    )
    seed = spark.createDataFrame([('a', 1)], 'id string, t long')
    ppr = {r['id']: r['pr'] for r in pagerank_weighted(two, teleport=seed, iters=4).collect()}
    assert ppr['c'] == 0.0 and ppr['d'] == 0.0, 'unreachable component gets nothing'
    assert ppr['a'] > ppr['b'] > 0
    assert abs(sum(ppr.values()) - 1.0) < 1e-4

    import pytest as _pytest

    with _pytest.raises(ValueError, match='positive'):
        pagerank_weighted(two, teleport=spark.createDataFrame([('a', 0)], 'id string, t long'))


def test_mixing_rates_temperature_allocation(spark):
    """α=1/2 temperature mixing: low-resource strata get a HIGHER keep
    rate than their corpus share, allocation is exact integer micro-rate
    math, expected kept total ≈ the target fraction, rates cap at 1."""
    import math

    from dgraphpandas_spark.operators.curation import mixing_rates, sample_stratified

    # 9000 'en' docs vs 100 'xx' docs
    rows = [(i, 'en') for i in range(9000)] + [(9000 + i, 'xx') for i in range(100)]
    df = spark.createDataFrame(rows, 'doc_id long, lang string')
    rates = mixing_rates(df, 'lang', (3, 10))
    assert set(rates) == {'en', 'xx'}
    assert rates['xx'] > rates['en'], 'low-resource stratum upsampled'
    # exact integer replay of the documented formula
    target = 9100 * 3 // 10
    sq = {s: math.floor(math.sqrt(n) * 1_000_000) for s, n in (('en', 9000), ('xx', 100))}
    st = sum(sq.values())
    for s, n in (('en', 9000), ('xx', 100)):
        assert rates[s] == min(1_000_000, target * 1_000_000 * sq[s] // (st * n)) / 1e6
    # expected kept mass ≈ 30% (hash membership is uniform-ish)
    kept = sample_stratified(df, rates, strata_col='lang').count()
    assert abs(kept - target) / target < 0.15
    # a tiny stratum under a big target caps at 1.0
    tiny = spark.createDataFrame(
        [(i, 'big') for i in range(10000)] + [(10001, 'rare')],
        'doc_id long, lang string',
    )
    assert mixing_rates(tiny, 'lang', (9, 10))['rare'] == 1.0


def test_knn_graph_planted_neighbors(spark):
    """kNN graph: planted identical vectors are each other's rank-1
    neighbor (cos 1.0); every node emits ≤ k neighbors with contiguous
    ranks ordered by (cos DESC, nbr ASC)."""
    from dgraphpandas_spark.operators.simsearch import knn_graph

    emb = spark.read.parquet(f'{SF_DIR}/embeddings.parquet').select('vec_id', 'embedding').limit(60)
    planted = emb.unionByName(
        emb.select((F.col('vec_id') + 100000).alias('vec_id'), 'embedding')
    )
    out = knn_graph(planted, k=3, n_planes=8, dim=64, seed=42, multi_probe=True)
    rows = out.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r['id'], []).append((r['rank'], r['cos'], r['nbr']))
    for vid, nbrs in by_id.items():
        nbrs.sort()
        assert len(nbrs) <= 3
        assert [n[0] for n in nbrs] == list(range(1, len(nbrs) + 1))
        cs = [n[1] for n in nbrs]
        assert cs == sorted(cs, reverse=True)
    # every planted twin pair is mutually rank-1 at cos 1.0 (identical
    # vectors share every bucket, so LSH cannot miss them)
    base_ids = [r['vec_id'] for r in emb.select('vec_id').collect()]
    for vid in base_ids:
        assert by_id[vid][0][:2] == (1, 1.0)
        assert by_id[vid + 100000][0][:2] == (1, 1.0)

    # IVF variant: identical vectors land in the same trained cell, so the
    # twins are again mutual rank-1 neighbors
    ivf = knn_graph(planted, k=3, method='ivf', n_cells=4, iters=2)
    ivf_by_id = {}
    for r in ivf.collect():
        ivf_by_id.setdefault(r['id'], []).append((r['rank'], r['cos'], r['nbr']))
    for vid in base_ids:
        assert min(ivf_by_id[vid])[:2] == (1, 1.0)


def test_merge_triples_upsert_semantics(spark):
    """Dgraph-style merge: delta replaces single-valued predicates,
    edges accumulate, same-batch duplicate writes resolve
    deterministically (lexicographic max), untouched triples pass through."""
    from dgraphpandas_spark.operators.canonicalize import merge_triples

    schema = 'subject string, predicate string, object string, type string'
    existing = spark.createDataFrame(
        [
            ('t1', 'role', 'user', '<xs:string>'),
            ('t1', 'text', 'hello', '<xs:string>'),
            ('t2', 'role', 'assistant', '<xs:string>'),
            ('t1', 'tool', 'search', None),
        ],
        schema,
    )
    delta = spark.createDataFrame(
        [
            ('t1', 'role', 'system', '<xs:string>'),   # replaces
            ('t1', 'tool', 'search', None),            # duplicate edge → once
            ('t1', 'tool', 'browse', None),            # new edge → accumulates
            ('t3', 'role', 'zz', '<xs:string>'),       # brand-new subject
        ],
        schema,
    )
    expected = {
        ('t1', 'role', 'system'),
        ('t1', 'text', 'hello'),
        ('t2', 'role', 'assistant'),
        ('t1', 'tool', 'search'),
        ('t1', 'tool', 'browse'),
        ('t3', 'role', 'zz'),
    }
    out = merge_triples(existing, delta).collect()
    got = {(r['subject'], r['predicate'], r['object']) for r in out}
    assert got == expected
    assert len(out) == 6
    # merge is idempotent: re-applying the same delta changes nothing
    again = merge_triples(merge_triples(existing, delta), delta).collect()
    assert {(r['subject'], r['predicate'], r['object']) for r in again} == expected


def test_tfidf_topk_integer_scores_and_ranks(spark):
    from dgraphpandas_spark.operators.curation import tfidf_topk

    df = spark.createDataFrame(
        [(1, 'rare common common'), (2, 'common common other')],
        'doc_id bigint, text string',
    )
    out = {(r['id'], r['term']): r for r in tfidf_topk(df, k=5).collect()}
    # doc_freq: common=2, rare=1, other=1
    assert out[(1, 'rare')]['score_ppm'] == 1_000_000      # 1*1e6 // 1
    assert out[(1, 'common')]['score_ppm'] == 1_000_000    # 2*1e6 // 2
    assert out[(2, 'other')]['score_ppm'] == 1_000_000
    assert out[(2, 'common')]['score_ppm'] == 1_000_000
    # tie at equal score breaks on the term string (total order)
    assert out[(1, 'common')]['rank'] == 1 and out[(1, 'rare')]['rank'] == 2
    assert out[(2, 'common')]['rank'] == 1 and out[(2, 'other')]['rank'] == 2


def test_tfidf_topk_caps_at_k(spark, docs):
    from dgraphpandas_spark.operators.curation import tfidf_topk

    out = tfidf_topk(docs.limit(50), k=3)
    per_doc = out.groupBy('id').agg(
        F.count('*').alias('n'), F.max('rank').alias('mx'), F.min('rank').alias('mn')
    )
    bad = per_doc.filter('n > 3 OR mx > 3 OR mn <> 1').count()
    assert bad == 0


def test_shard_corpus_deterministic_dense_positions(spark, docs):
    from dgraphpandas_spark.operators.curation import shard_corpus

    d = docs.select('doc_id')
    a = shard_corpus(d, n_shards=4, salt='ep1')
    total = d.count()
    assert a.count() == total
    assert a.filter('shard < 0 OR shard >= 4').count() == 0
    # positions dense 0..n_s-1 within every shard
    per = a.groupBy('shard').agg(
        F.count('*').alias('n'), F.min('pos').alias('mn'), F.max('pos').alias('mx')
    )
    assert per.filter('mn <> 0 OR mx <> n - 1').count() == 0
    # pure function of (id, salt): identical on re-run, any partitioning
    b = shard_corpus(d.repartition(7), n_shards=4, salt='ep1')
    assert a.exceptAll(b).count() == 0
    # ... and a new salt is a genuinely different epoch order
    c = shard_corpus(d, n_shards=4, salt='ep2').select(
        'id', F.col('shard').alias('shard2'), F.col('pos').alias('pos2')
    )
    moved = a.join(c, 'id').filter('shard <> shard2 OR pos <> pos2').count()
    assert moved > 0


def test_collocations_integer_lift_and_tiebreak(spark):
    from dgraphpandas_spark.operators.curation import collocations

    df = spark.createDataFrame(
        [(1, 'new york new york'), (2, 'new york city')],
        'doc_id bigint, text string',
    )
    out = collocations(df, min_count=1, top_n=10).collect()
    rows = {(r['w1'], r['w2']): r for r in out}
    # uni: new=3 york=3 city=1, n_tokens=7
    assert rows[('new', 'york')]['pair_count'] == 3
    assert rows[('new', 'york')]['lift_ppm'] == 3 * 7 * 1_000_000 // 9
    assert rows[('york', 'new')]['lift_ppm'] == 1 * 7 * 1_000_000 // 9
    assert rows[('york', 'city')]['lift_ppm'] == 1 * 7 * 1_000_000 // 3
    # equal lift (new,york)=2333333=(york,city): pair_count desc breaks it
    assert [(r['w1'], r['w2']) for r in out[:2]] == [('new', 'york'), ('york', 'city')]


def test_collocations_min_count_prunes_and_caps(spark, docs):
    from dgraphpandas_spark.operators.curation import collocations

    out = collocations(docs, min_count=3, top_n=25)
    rows = out.collect()
    assert len(rows) <= 25
    assert all(r['pair_count'] >= 3 for r in rows)
    # top_n is a total order: re-run yields the identical list
    again = collocations(docs, min_count=3, top_n=25).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_knn_classify_majority_and_tiebreak(spark):
    from dgraphpandas_spark.operators.simsearch import knn_classify

    refs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0], 7),
         (2, [0.9, 0.1, 0.0, 0.0], 7),
         (3, [0.8, 0.2, 0.0, 0.0], 9),
         (4, [0.0, 0.0, 1.0, 0.0], 3),
         (5, [0.0, 0.0, 0.9, 0.1], 3)],
        'vec_id bigint, embedding array<double>, label int',
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05, 0.0, 0.0])], 'vec_id bigint, embedding array<double>')
    out = knn_classify(queries, refs, k=3).collect()
    assert len(out) == 1 and out[0]['pred_label'] == 7 and out[0]['votes'] == 2
    # k=2 -> one vote each for 7 and 9?  nearest two are ids 1,2 (both 7).
    out2 = knn_classify(queries, refs, k=2).collect()
    assert out2[0]['pred_label'] == 7 and out2[0]['votes'] == 2
    # force a genuine tie: k=4 -> labels {7,7,9,3}? id 4/5 are orthogonal;
    # 4th neighbor is id 4 (cos 0) or 5 -> votes 7:2, 9:1, 3:1 -> still 7.
    out4 = knn_classify(queries, refs, k=4).collect()
    assert out4[0]['pred_label'] == 7


def test_knn_classify_brute_caps_the_broadcast_query_side(spark, monkeypatch):
    """method='brute' broadcasts every query row: a query side of exactly
    BRUTE_MAX_QUERIES rows runs, one row more raises before any join and
    points at method='lsh', which still classifies the larger side."""
    import pytest

    from dgraphpandas_spark.operators import simsearch

    monkeypatch.setattr(simsearch, 'BRUTE_MAX_QUERIES', 3)
    refs = spark.createDataFrame(
        [(1, [1.0, 0.0], 7), (2, [0.0, 1.0], 9)],
        'vec_id bigint, embedding array<double>, label int',
    )

    def queries(n):
        return spark.createDataFrame(
            [(100 + i, [1.0, 0.01 * i]) for i in range(n)], 'vec_id bigint, embedding array<double>')

    at_cap = simsearch.knn_classify(queries(3), refs, k=1).collect()
    assert sorted((r['id'], r['pred_label']) for r in at_cap) == [(100, 7), (101, 7), (102, 7)]
    with pytest.raises(ValueError, match="method='lsh'"):
        simsearch.knn_classify(queries(4), refs, k=1)
    lsh = simsearch.knn_classify(queries(4), refs, k=1, method='lsh', n_planes=2, dim=2)
    assert lsh.count() == 4


def test_knn_classify_lsh_matches_brute_on_tight_clusters(spark):
    """LSH path on genuinely CLUSTERED vectors (the regime the docstring
    claims): 3 tight clusters in 8-dim, one labeled cluster per label.
    Same-cluster vectors land in the same sign-LSH bucket (tiny angular
    spread), so blocked candidates contain the true neighbors and the
    vote must match brute exactly."""
    from dgraphpandas_spark.operators.simsearch import knn_classify

    centers = [[1, 0, 0, 0, 0, 0, 0, 0],
               [0, 0, 1, 0, 0, 0.2, 0, 0],
               [0, 0, 0, 0, 0, 0, 1, 0.3]]
    rows, qrows = [], []
    for c, center in enumerate(centers):
        for i in range(8):
            # deterministic tiny perturbation on one off-axis dim
            v = [x + (0.01 * ((i * 7 + d) % 5)) for d, x in enumerate(center)]
            rows.append((c * 100 + i, v, c))
        qrows.append((1000 + c, [x + 0.005 for x in center]))
    refs = spark.createDataFrame(
        rows, 'vec_id bigint, embedding array<double>, label int')
    queries = spark.createDataFrame(
        qrows, 'vec_id bigint, embedding array<double>')
    brute = knn_classify(queries, refs, k=5)
    lsh = knn_classify(queries, refs, k=5, method='lsh',
                       n_planes=6, dim=8, multi_probe=True)
    assert brute.count() == 3 and lsh.columns == brute.columns
    got_b = {r['id']: r['pred_label'] for r in brute.collect()}
    got_l = {r['id']: r['pred_label'] for r in lsh.collect()}
    assert got_b == {1000: 0, 1001: 1, 1002: 2}
    assert got_l == got_b
    # deterministic on re-run
    l2 = knn_classify(queries, refs, k=5, method='lsh',
                      n_planes=6, dim=8, multi_probe=True)
    assert lsh.exceptAll(l2).count() == 0


def test_incremental_dedup_verdicts(spark):
    from dgraphpandas_spark.operators.dedup import incremental_dedup, minhash_buckets

    corpus = spark.createDataFrame(
        [(1, 'a b c d e f g h'), (2, 'p q r s t u v w')],
        'doc_id bigint, text string',
    )
    new = spark.createDataFrame(
        [(101, 'a b c d e f g h'),            # exact dup of 1
         (102, 'a b c d e f g h x y z'),       # tail-extended: J = 6/9
         (103, 'zz yy xx ww vv uu tt ss')],    # novel
        'doc_id bigint, text string',
    )
    out = {r['id']: r for r in incremental_dedup(new, corpus, threshold=0.5).collect()}
    assert out[101]['dup_of'] == 1 and out[101]['jaccard'] == 1.0 and not out[101]['keep']
    assert out[102]['dup_of'] == 1 and abs(out[102]['jaccard'] - 0.666667) < 1e-6
    assert out[103]['dup_of'] is None and out[103]['keep']
    # at a stricter threshold the tail-extended doc is admitted
    strict = {r['id']: r for r in incremental_dedup(new, corpus, threshold=0.8).collect()}
    assert strict[102]['keep'] and not strict[101]['keep']
    # precomputed-index path is identical (the steady-state 100-TB shape)
    idx = minhash_buckets(corpus)
    via_idx = incremental_dedup(new, corpus, threshold=0.5, corpus_buckets=idx)
    assert via_idx.exceptAll(incremental_dedup(new, corpus, threshold=0.5)).count() == 0


def test_incremental_dedup_batch_cost_independent_of_corpus(spark, docs):
    """Every new doc gets exactly one verdict row; planted shifts resolve
    to their originals."""
    from dgraphpandas_spark.operators.dedup import incremental_dedup

    d = docs.select('doc_id', 'text')
    new = d.filter('doc_id % 50 = 0').select(
        (F.col('doc_id') + 1_000_000).alias('doc_id'), 'text')
    out = incremental_dedup(new, d, bands=4, threshold=0.5)
    assert out.count() == new.count()
    matched = out.filter('NOT keep')
    # exact copies must match their original id (jaccard 1.0 beats any tie)
    wrong = matched.filter('dup_of <> id - 1000000 AND jaccard >= 0.999999').count()
    assert wrong == 0
    assert matched.count() >= int(0.9 * new.count())


def test_cap_per_source_audit_and_total_order(spark):
    from dgraphpandas_spark.operators.curation import cap_per_source

    docs = spark.createDataFrame(
        [
            (1, 'srcA', 'the quick brown fox jumps over the lazy dog and runs'),
            (2, 'srcA', 'zz'),
            (3, 'srcA', 'a good long sentence with many common the and of words here'),
            (4, 'srcB', 'another fine document with the usual words in it'),
        ],
        'doc_id long, source string, text string',
    )
    out = {r['id']: r for r in cap_per_source(docs, max_per_source=2).collect()}
    assert len(out) == 4                      # one audit row per input doc
    assert sorted(r['rank'] for r in out.values() if r['source'] == 'srcA') == [1, 2, 3]
    dropped = [i for i, r in out.items() if not r['kept']]
    assert len(dropped) == 1 and out[dropped[0]]['rank'] == 3
    # the dropped doc is the lowest-quality one in the over-cap source
    sa = [r for r in out.values() if r['source'] == 'srcB']
    assert all(r['kept'] and r['rank'] == 1 for r in sa)


def test_corpus_health_closed_form(spark):
    from dgraphpandas_spark.operators.curation import corpus_health

    docs = spark.createDataFrame(
        [
            (1, 'the quick brown fox and the lazy dog'),
            (2, 'the quick brown fox and the lazy dog'),   # exact dup of 1
            (3, 'ein ganz anderes deutsches dokument und noch mehr'),
            (4, ''),
        ],
        'doc_id long, text string',
    )
    r = corpus_health(docs).collect()[0]
    assert r['n_docs'] == 4
    assert r['n_tokens'] == 8 + 8 + 8 + 0
    assert r['dup_ppm'] == (4 - 3) * 1_000_000 // 4        # one dup pair
    assert r['top_lang_ppm'] >= 250_000
    assert 0.0 <= r['avg_quality'] <= 1.0
